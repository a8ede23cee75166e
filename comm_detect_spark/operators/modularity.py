"""Modularity scoring — the reference's exact formula (modularity.h:175-191):

    Q = sum_C [ w_in(C)/W  -  vol(C)^2 / (4 W^2) ]

W = sum of all adjacency entries (M4); w_in(C) = sum of entries with both
endpoints in C (intra edges twice, self-loops once — M2/M3); vol from
volumes_df (self-loops twice — M5). NOT textbook Newman (the second term is
a quarter of Newman's) — this is the 1e-6 comparison target, replicated
exactly.

One action: the per-community terms and W come out of one aggregation
(W is the sum of every row's weight, i.e. the rows leaving each
community), over two edge-scans' worth of aggregation and vertex-sized
joins. vol^2 is squared in double: a bigint product overflows under
Spark's ANSI default once a community's volume passes ~3.04e9. The labels
join is broadcast when the state table is small (late Louvain levels) —
Catalyst/AQE decides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from comm_detect_spark.graph.core import volumes_df


def modularity_terms(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community terms: (label, w_in, vol, w_out). ``labels`` = (vid,
    label); w_out = weight of the rows whose src is in the community, so
    the w_out column sums to W when every vertex is labeled."""
    lab_src = labels.select(F.col("vid").alias("src"), F.col("label").alias("c_src"))
    lab_dst = labels.select(F.col("vid").alias("dst"), F.col("label").alias("c_dst"))
    rows = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .groupBy(F.col("c_src").alias("label"))
        .agg(
            F.sum(
                F.when(F.col("c_src") == F.col("c_dst"), F.col("weight"))
                .otherwise(F.lit(0))
            ).alias("w_in"),
            F.sum("weight").alias("w_out"),
        )
    )
    vol_c = (
        volumes_df(edges)
        .join(labels, "vid")
        .groupBy("label")
        .agg(F.sum("vol").alias("vol"))
    )
    return vol_c.join(rows, "label", "left").select(
        "label",
        F.coalesce(F.col("w_in"), F.lit(0)).alias("w_in"),
        "vol",
        F.coalesce(F.col("w_out"), F.lit(0)).alias("w_out"),
    )


def modularity_score(edges: DataFrame, labels: DataFrame) -> float:
    """Q of the partition ``labels`` (vid, label), which must label every
    vertex that has an edge (as the oracle's label vector does)."""
    vol = F.col("vol").cast("double")
    row = (
        modularity_terms(edges, labels)
        .agg(
            F.sum("w_in").alias("w_in"),
            F.sum(vol * vol).alias("vol_sq"),
            F.sum("w_out").alias("w"),
        )
        .collect()[0]
    )
    w = float(row["w"] or 0)
    if w == 0.0:
        return 0.0
    return float(row["w_in"]) / w - float(row["vol_sq"]) / (4.0 * w * w)


def community_conductance(
    edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """(label, vol_w, cut_w, conductance): per-community conductance over
    a SYMMETRIC weighted edge table — the other standard partition-quality
    score next to modularity (compute_modularity above): low conductance =
    few boundary edges relative to the community's volume.

    Convention (stated, engine-replayable): vol(c) = sum of w over
    symmetric rows with src in c; cut(c) = the subset of that with dst
    outside c; conductance = cut / min(vol, total_vol - vol), NULL for a
    community with vol 0 or vol == total (no outside). Each undirected
    edge contributes twice to both numerator family and denominators, so
    the factor cancels; rounded 9.

    One labels join per endpoint (vertex-keyed, AQE hub split) + one
    map-side-combined agg over communities + a 1-row total broadcast —
    community-count-sized output."""
    la = labels.select(F.col("vid").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("vid").alias("dst"), F.col("label").alias("lb"))
    tagged = edges.join(la, "src").join(lb, "dst")
    per = tagged.groupBy(F.col("la").alias("label")).agg(
        F.sum("weight").alias("vol_w"),
        F.sum(
            F.when(F.col("la") != F.col("lb"), F.col("weight")).otherwise(
                F.lit(0)
            )
        ).alias("cut_w"),
    )
    total = per.agg(F.sum("vol_w").alias("tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "label",
        "vol_w",
        "cut_w",
        F.round(
            F.col("cut_w")
            / F.nullif(
                F.least(
                    F.col("vol_w").cast("double"),
                    (F.col("tot") - F.col("vol_w")).cast("double"),
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("conductance"),
    )
