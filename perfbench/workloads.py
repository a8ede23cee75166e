"""The benchmark's three workloads: inputs, one job, and the oracle gate.

Each workload class has five steps, called by ``run.py``:

* ``setup(spark, tracer)`` builds the inputs from the seed (timed as
  part of ``setup_s``);
* ``reference()`` computes the NumPy-oracle answers once per run, outside
  every timed region;
* ``job(spark, tracer, tag)`` is one timed job: inputs ready -> result
  collected, every step a phase span around one library call;
* ``check(result)`` compares a job's result with the reference and
  returns the list of mismatches (empty when correct);
* ``release(result)`` drops what a job cached or wrote, untimed.

Why these three (see README.md): ``pagerank-rmat`` is the largest data
and does one edge-sized shuffle per iteration through ``step()``;
``labels-rmat`` runs the convergence-checked prepare/install loops (LPA,
CC) plus a modularity job; ``crawl-louvain`` is tiny data with a high
fixed cost per iteration (Arrow/pandas UDFs, driver planning, store
writes) and is the only workload that writes a CheckpointStore.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from comm_detect_spark import oracle
from comm_detect_spark.operators import (
    connected_components,
    louvain,
    lpa_sync,
    modularity_score,
    pagerank,
)
from comm_detect_spark.sources.pages import (
    extract_edges,
    generate_pages_distributed,
    page_url,
    pages_to_graph,
)
from comm_detect_spark.sources.rmat import rmat_edges_distributed

from tracing import BenchStore

PR_ATOL = 1e-6  # ranks: np.allclose(rtol=PR_RTOL, atol=PR_ATOL) ...
PR_RTOL = 1e-6  # ... as tight as the ranks' magnitude (~1/n) needs
Q_ATOL = 1e-6  # modularity


def symmetrize(directed):
    """Both directions of every non-loop edge, duplicate weights summed
    (the undirected adjacency-entry convention of ``graph.core``)."""
    return (
        directed.select("src", "dst", "weight")
        .unionAll(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def _np_symmetrize(n, src, dst, w):
    """NumPy twin of :func:`symmetrize` -> oracle Adjacency."""
    keep = src != dst
    s = np.concatenate([src[keep], dst[keep]])
    d = np.concatenate([dst[keep], src[keep]])
    ww = np.concatenate([w[keep], w[keep]])
    key, inv = np.unique(s * n + d, return_inverse=True)
    wsum = np.zeros(key.size, dtype=np.int64)
    np.add.at(wsum, inv, ww)
    return oracle.Adjacency.from_entries(n, key // n, key % n, wsum)


def _vector(pdf, key: str, col: str, n: int) -> np.ndarray:
    """Dense array indexed by ``key`` from a collected frame; NaN/-1 fill
    marks keys the engine did not return."""
    fill = np.nan if pdf[col].dtype.kind == "f" else -1
    out = np.full(n, fill, dtype=pdf[col].dtype)
    keys = pdf[key].to_numpy()
    if keys.size == n and keys.min() >= 0 and keys.max() < n:
        out[keys] = pdf[col].to_numpy()
    return out


def _rmat(spark, size, seed, cores):
    return rmat_edges_distributed(
        spark, size["scale"], size["edge_factor"], seed=seed,
        num_partitions=cores,
    )


class PagerankRmat:
    """Directed R-MAT; ``pagerank`` for a fixed number of iterations."""

    name = "pagerank-rmat"

    def __init__(self, size: dict, seed: int, cores: int, work: str):
        self.size, self.seed, self.cores = size, seed, cores
        self.n = 1 << size["scale"]

    def setup(self, spark, tr):
        with tr.phase("sources.rmat"):
            self.edges = _rmat(spark, self.size, self.seed, self.cores).persist()
            self.m = self.edges.count()

    def reference(self):
        pdf = self.edges.toPandas()
        self.ref_ranks = oracle.pagerank(
            self.n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(),
            pdf["weight"].to_numpy(), iterations=self.size["iterations"],
        )
        return {"vertices": self.n, "edge_rows": self.m,
                "pagerank.iterations": self.size["iterations"]}

    def job(self, spark, tr, tag):
        with tr.op("pagerank", self.m) as op:
            ranks = pagerank(
                spark, self.edges, n=self.n,
                iterations=self.size["iterations"], driver=op.driver(),
            )
        with tr.phase("collect"):
            pdf = ranks.toPandas()
        return {"ranks": pdf, "frames": [ranks]}

    def check(self, res):
        got = _vector(res["ranks"], "vid", "rank", self.n)
        if not np.allclose(got, self.ref_ranks, rtol=PR_RTOL, atol=PR_ATOL):
            return ["pagerank ranks differ from oracle.pagerank"]
        return []

    def release(self, res):
        for df in res["frames"]:
            df.unpersist()


class LabelsRmat:
    """Symmetrized R-MAT; ``lpa_sync`` to convergence, ``modularity_score``
    of its labels, ``connected_components`` to fixpoint."""

    name = "labels-rmat"

    def __init__(self, size: dict, seed: int, cores: int, work: str):
        self.size, self.seed, self.cores = size, seed, cores
        self.n = 1 << size["scale"]

    def setup(self, spark, tr):
        with tr.phase("sources.rmat"):
            directed = _rmat(spark, self.size, self.seed, self.cores)
            self.sym = symmetrize(directed).persist()
            self.m = self.sym.count()

    def reference(self):
        pdf = self.sym.toPandas()
        self.adj = oracle.Adjacency.from_entries(
            self.n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(),
            pdf["weight"].to_numpy(),
        )
        self.ref_labels, sweeps = oracle.lpa_sync(self.adj, eps=1e-4)
        self.ref_q = oracle.modularity(self.adj, self.ref_labels)
        self.ref_comp = oracle.connected_components(self.adj)
        return {"vertices": self.n, "edge_rows": self.m,
                "lpa_sync.iterations": sweeps}

    def job(self, spark, tr, tag):
        with tr.op("lpa_sync", self.m) as op:
            labels = lpa_sync(spark, self.sym, n=self.n, eps=1e-4,
                              driver=op.driver())
        with tr.phase("modularity_score"):
            q = modularity_score(self.sym, labels)
        with tr.op("connected_components", self.m) as op:
            comp = connected_components(spark, self.sym, n=self.n,
                                        driver=op.driver())
        with tr.phase("collect"):
            lab_pdf = labels.toPandas()
            comp_pdf = comp.toPandas()
        return {"labels": lab_pdf, "comp": comp_pdf, "q": q,
                "frames": [labels, comp]}

    def check(self, res):
        bad = []
        if not np.array_equal(
            _vector(res["labels"], "vid", "label", self.n), self.ref_labels
        ):
            bad.append("lpa_sync labels differ from oracle.lpa_sync")
        if not np.array_equal(
            _vector(res["comp"], "vid", "comp", self.n), self.ref_comp
        ):
            bad.append("components differ from oracle.connected_components")
        if not np.isclose(res["q"], self.ref_q, rtol=0, atol=Q_ATOL):
            bad.append(f"modularity {res['q']} != oracle {self.ref_q}")
        return bad

    def release(self, res):
        for df in res["frames"]:
            df.unpersist()


class CrawlLouvain:
    """Common-Crawl-style pages over planted R-MAT links: extract edges,
    build the vid graph, symmetrize it, then ``louvain`` (each level on its
    own CheckpointStore) and ``modularity_score``."""

    name = "crawl-louvain"

    def __init__(self, size: dict, seed: int, cores: int, work: str):
        self.size, self.seed, self.cores = size, seed, cores
        self.n = 1 << size["scale"]
        self.pages_path = os.path.join(work, "pages")
        self.store_root = os.path.join(work, "stores")

    def setup(self, spark, tr):
        with tr.phase("sources.rmat"):
            self.planted = (
                _rmat(spark, self.size, self.seed, self.cores)
                .where(F.col("src") != F.col("dst"))
                .select("src", "dst")
                .persist()
            )
            self.m_planted = self.planted.count()
        with tr.phase("sources.pages"):
            generate_pages_distributed(spark, self.n, self.planted).write.mode(
                "overwrite"
            ).parquet(self.pages_path)

    def reference(self):
        pdf = self.planted.toPandas()
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        urls = np.array([page_url(i) for i in range(self.n)], dtype=object)
        # pages_to_graph mints vids in ascending url order
        order = np.argsort(urls, kind="stable")
        vid_of_page = np.empty(self.n, dtype=np.int64)
        vid_of_page[order] = np.arange(self.n)
        self.ref_vertices = dict(zip(urls, vid_of_page))
        self.ref_url_edges = set(zip(urls[src], urls[dst]))
        vs, vd = vid_of_page[src], vid_of_page[dst]
        self.adj = _np_symmetrize(self.n, vs, vd, np.ones_like(vs))
        return {"vertices": self.n, "edge_rows": self.m_planted,
                "sym_edge_rows": int(self.adj.indices.size)}

    def job(self, spark, tr, tag):
        pages = spark.read.parquet(self.pages_path)
        with tr.phase("sources.extract_edges"):
            url_edges = extract_edges(pages).persist()
            url_edges.count()
        with tr.phase("sources.pages_to_graph"):
            verts, edges = pages_to_graph(pages, url_edges=url_edges)
            edges = edges.persist()
            m = edges.count()
            n = verts.count()
        with tr.phase("symmetrize"):
            sym = symmetrize(edges).persist()
            m_sym = sym.count()
        store_root = os.path.join(self.store_root, tag)
        with tr.op("louvain", m_sym) as op:

            def level_driver():
                store = BenchStore(store_root, f"L{len(op.drivers) + 1}",
                                   tr.traced)
                tr.stores.append(store)
                # one snapshot per level, written by finish(): a snapshot
                # per sweep as well would double the job's store time
                return op.driver(store=store, checkpoint_every=2)

            labels, op.levels = louvain(
                spark, sym, n, num_blocks=self.cores,
                max_levels=self.size["max_levels"],
                max_sweeps=self.size["max_sweeps"],
                driver_factory=level_driver,
            )
        with tr.phase("modularity_score"):
            q = modularity_score(sym, labels)
        with tr.phase("collect"):
            labels_pdf = labels.toPandas()
        return {"labels": labels_pdf, "q": q, "edges": m, "n": n,
                "url_edges": url_edges, "verts": verts, "store": store_root,
                "frames": [url_edges, verts, edges, sym, labels]}

    def check(self, res):
        bad = []
        if res["edges"] != self.m_planted or res["n"] != self.n:
            bad.append(f"graph has {res['n']} vertices / {res['edges']} "
                       f"edges, planted {self.n} / {self.m_planted}")
        got_edges = {
            (r["src_url"], r["dst_url"]) for r in res["url_edges"].collect()
        }
        if got_edges != self.ref_url_edges:
            bad.append("extracted edge set differs from the planted set")
        got_verts = {r["url"]: r["vid"] for r in res["verts"].collect()}
        if got_verts != self.ref_vertices:
            bad.append("minted vids differ from ascending url order")
            return bad
        labels = _vector(res["labels"], "vid", "label", self.n)
        if (labels < 0).any():
            bad.append("louvain returned no label for some vertices")
        else:
            want = oracle.modularity(self.adj, labels)
            if not np.isclose(res["q"], want, rtol=0, atol=Q_ATOL):
                bad.append(f"modularity {res['q']} != oracle {want}")
        return bad

    def release(self, res):
        for df in res["frames"]:
            df.unpersist()
        shutil.rmtree(res["store"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (PagerankRmat, LabelsRmat, CrawlLouvain)}
