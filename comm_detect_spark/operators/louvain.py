"""Louvain-style modularity refinement (PLM — plm.cc), Spark-native.

Level structure (Recursive_comm_detect, plm.cc:336-412):
    singleton init -> local-move sweeps -> [moved?] coarsen -> recurse
    -> prolong (label composition, plm.cc:174-185)

Local move is the Arrow-CSR block kernel (csr.py), cogrouped like
lpa_async so the edge table is exchanged ONCE per sweep: branch A gathers
src-side (label, volume, community volume) on the cached src partitioning
(exchange-free join, one block exchange); branch B carries the stale
dst-side (label, community volume) over the precomputed (block, dst)
structure. The kernel runs the dQ sweep (plm.cc:192-242 with weight_sq =
2*weight_net, strict dQ > 0, lowest-label tie pin) sequentially inside
each block. Community volumes are exact at sweep start (groupBy recompute
— the bulk-sync analogue of plm.cc:306-311's incremental critical section)
and incrementally maintained within a block during the sweep.

Coarsen (plm.cc:48-171) is two hash joins + one hash agg:
    edges ⋈ labels(src) ⋈ labels(dst) -> groupBy(c_src, c_dst).sum(weight)
— Spark's partial+final aggregation replaces the reference's thread-local
maps + tree merge. weight_net is invariant across levels (plm.cc:151).
Levels shrink geometrically, so late levels auto-broadcast under AQE.

Lineage-free tables: a table an operator already materializes is
materialized lineage-free, and no job is added only to cut lineage. Each
level's src-partitioned edge table is persisted over a lazy local
checkpoint of its input (_louvain_level): the caller's edges at level 1,
the coarse graph below. So that table, the vols and touch tables
persisted from it, every sweep, the store writes and the moved check plan
against a leaf, not against the caller's whole cached pipeline, which AQE
would re-render at each stage update (on the crawl benchmark's pipeline:
a 1.31 MB formatted sweep plan without the cut, 40 KB with it).
weight_net is read from that table, not from the caller's frame. The
checkpoint's blocks (a row copy of the level's edges) are freed as soon
as the table is cached, so they live only through that count job. On an
input read straight from files the cut saves no planning and costs that
copy, about 1.2 us of CPU per row once per call (PERFORMANCE.md).

num_blocks=1 reproduces oracle.louvain exactly (same kernel, same order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from comm_detect_spark.graph.core import (
    adaptive_partitions,
    dense_ids,
    vertex_range,
    volumes_df,
    weight_net,
)
from comm_detect_spark.operators.csr import build_block_csr
from comm_detect_spark.operators.kernels import local_move_sweep_fast, movable_mask
from comm_detect_spark.plans.driver import IterationDriver

_OUT_SCHEMA = "vid BIGINT, label BIGINT"


def _make_kernel(w_net: int, freeze_sweep: int | None = None):
    def kernel(edges_pdf: pd.DataFrame, ext_pdf: pd.DataFrame) -> pd.DataFrame:
        if edges_pdf.empty:
            return pd.DataFrame({"vid": [], "label": []}).astype("int64")
        nodes, adj, ext_vids, _ = build_block_csr(edges_pdf)
        m = nodes.size
        src = edges_pdf["src"].to_numpy(dtype=np.int64)
        _, first_src = np.unique(src, return_index=True)
        labels = np.empty(adj.n, dtype=np.int64)
        labels[:m] = edges_pdf["src_label"].to_numpy(dtype=np.int64)[first_src]
        vol = np.zeros(adj.n, dtype=np.int64)
        vol[:m] = edges_pdf["src_vol"].to_numpy(dtype=np.int64)[first_src]
        ext_dst = ext_pdf["dst"].to_numpy(dtype=np.int64)
        ext_lab = ext_pdf["dst_label"].to_numpy(dtype=np.int64)
        if ext_vids.size:
            order = np.argsort(ext_dst)
            pos = np.searchsorted(ext_dst[order], ext_vids)
            if pos.max(initial=-1) >= ext_dst.size or not np.array_equal(
                ext_dst[order][pos], ext_vids
            ):
                raise ValueError(
                    "edge dst not covered by the vertex set (n too small?)"
                )
            labels[m:] = ext_lab[order][pos]
        # community volumes: every community referenced by this block
        # (own labels + neighbor labels), exact at sweep start
        comm_vol: dict[int, int] = {}
        src_cv = edges_pdf["src_comm_vol"].to_numpy(dtype=np.int64)
        src_lab = edges_pdf["src_label"].to_numpy(dtype=np.int64)
        ext_cv = ext_pdf["dst_comm_vol"].to_numpy(dtype=np.int64)
        for lab_arr, cv_arr in ((src_lab, src_cv), (ext_lab, ext_cv)):
            uniq, idx = np.unique(lab_arr, return_index=True)
            for u, i in zip(uniq, idx):
                comm_vol[int(u)] = int(cv_arr[i])
        # bit-exact optimized sweep — same output as the oracle's
        # local_move_sweep (kernels.py; parity pinned in test_kernels)
        movable = (
            movable_mask(nodes, freeze_sweep) if freeze_sweep is not None else None
        )
        local_move_sweep_fast(adj, labels, vol, comm_vol, w_net, m, movable)
        return pd.DataFrame({"vid": nodes, "label": labels[:m]})

    return kernel


def _local_move_step(
    edges: DataFrame,
    touch: DataFrame,
    state: DataFrame,
    vols: DataFrame,
    w_net: int,
    num_blocks: int,
    active_blocks: list[int] | None = None,
    freeze_sweep: int | None = None,
) -> DataFrame:
    """One sweep, cogrouped like lpa_async: the edge table is exchanged
    ONCE (block grouping, join on cached src partitioning exchange-free);
    the stale neighbor (label, community volume) table rides the small
    precomputed (block, dst) structure.

    ``active_blocks`` (frontier): when given, only those blocks are
    gathered and swept — the pmod(src) predicate pushes into the cached
    edge scan, so inactive blocks cost nothing. Output-identical to the
    full sweep (see _local_move for the proof).

    ``freeze_sweep``: when set, this is a symmetry-breaking sweep — the
    deterministic half-mask movable_mask(vid, freeze_sweep) freezes ~half
    the vertices (oscillation breaker, see _local_move)."""
    if active_blocks is not None:
        edges = edges.where(
            F.pmod(F.col("src"), F.lit(num_blocks)).isin(active_blocks)
        )
        touch = touch.where(F.col("block").isin(active_blocks))
    comm_vols = (
        state.join(vols, "vid")
        .groupBy("label")
        .agg(F.sum("vol").alias("comm_vol"))
    )
    st = state.join(vols, "vid").join(comm_vols, "label")
    gathered = edges.join(
        st.select(
            F.col("vid").alias("src"),
            F.col("label").alias("src_label"),
            F.col("vol").alias("src_vol"),
            F.col("comm_vol").alias("src_comm_vol"),
        ),
        "src",
    ).select(
        F.pmod(F.col("src"), F.lit(num_blocks)).alias("block"),
        "src",
        "dst",
        "weight",
        "src_label",
        "src_vol",
        "src_comm_vol",
    )
    ext = touch.join(
        st.select(
            F.col("vid").alias("dst"),
            F.col("label").alias("dst_label"),
            F.col("comm_vol").alias("dst_comm_vol"),
        ),
        "dst",
    ).select("block", "dst", "dst_label", "dst_comm_vol")
    moved = (
        gathered.groupBy("block")
        .cogroup(ext.groupBy("block"))
        .applyInPandas(_make_kernel(w_net, freeze_sweep), _OUT_SCHEMA)
    )
    return state.join(
        moved.withColumnRenamed("label", "new_label"), "vid", "left"
    ).select(
        "vid", F.coalesce(F.col("new_label"), F.col("label")).alias("label")
    )


def dense_relabel(state: DataFrame) -> DataFrame:
    """Dense 0..k-1 ids in ascending label order (deterministic pin of
    plm.cc:245-262). Runs over the DISTINCT label set, and — critically for
    the level that matters (after one local-move level on a 10^10-vertex web
    graph the community count is still O(10^9)) — via the two-phase
    range-partitioned rank (graph.core.dense_ids): NO single-partition
    global window anywhere in the plan."""
    mapping = dense_ids(
        state.select("label").distinct(), "label", id_col="new_label"
    )
    return state.join(mapping, "label").select(
        "vid", F.col("new_label").alias("label")
    )


def _local_move(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    w_net: int,
    eps: float,
    num_blocks: int,
    driver: IterationDriver | None,
    max_sweeps: int | None = None,
    frontier: bool = True,
    resume: bool = False,
) -> tuple[DataFrame, int]:
    drv = driver or IterationDriver()
    # scale-adaptive partition count (guide §2; graph/core.py): the
    # vertex/edge exchanges per sweep grow with the graph and are capped
    # by the conf ceiling — a 1e4-vertex level stops paying 32 near-empty
    # tasks per exchange. NOT output-changing (unlike num_blocks): the
    # kernel cogroups by block, never by partition.
    p = adaptive_partitions(spark, n)
    threshold = int(n * eps)
    # the block decomposition is OUTPUT-CHANGING (Jacobi block structure,
    # freeze schedule): pin it in the store so a resume launched on a
    # session whose shuffle-partition default resolves differently fails
    # loudly instead of silently diverging from the killed run
    if drv.store is not None:
        saved = drv.store.load_params()
        if resume and saved.get("num_blocks") not in (None, num_blocks):
            raise ValueError(
                f"resume with num_blocks={num_blocks} but the killed run "
                f"used num_blocks={saved['num_blocks']} "
                f"({drv.store.run_dir}/params.json) — the block "
                "decomposition is output-changing; pass the recorded value"
            )
        drv.store.save_params(
            num_blocks=num_blocks, eps=eps, overwrite=not resume
        )
    # resume BEFORE building the per-level structures: a level whose store
    # holds a final snapshot (finish() logged final=True) is already done —
    # return its saved pre-relabel state, re-applying the deterministic
    # dense relabel, without touching the edge table at all
    resumed = drv.try_resume(spark) if resume else None
    if resumed is not None:
        state, iterations, hist = resumed
        if any(m.get("final") for m in drv.store.metrics()):
            if iterations > 1:
                out = dense_relabel(state).localCheckpoint(eager=True)
                state.unpersist()
                return out, iterations
            return state, iterations
        # killed mid-level: REPLAY the plateau/freeze state machine over
        # the full moved-count history so the resumed run continues with
        # the SAME freeze schedule the killed run would have used — freeze
        # sweeps are output-changing (unlike the frontier, which is
        # output-neutral by proof). The mask itself is a pure function of
        # (vid, sweep number), so matching the schedule is sufficient.
        # A metrics row can be missing (kill between prepare()'s save_state
        # and install()'s log_metric — the delta.count() window): rebuild
        # it EXACTLY by diffing the adjacent state snapshots
        # (snapshot_moved_count); only if a snapshot is also absent
        # (checkpoint_every > 1) does the replay stop at the contiguous
        # prefix, keeping whatever sticky freeze state it reached.
        from comm_detect_spark.plans.checkpoint import snapshot_moved_count

        resume_replay = []
        for it2 in range(1, iterations + 1):
            m_it = hist.get(it2)
            if m_it is not None and "moved" in m_it:
                resume_replay.append(int(m_it["moved"]))
                continue
            recomputed = snapshot_moved_count(spark, drv.store, it2)
            if recomputed is None:
                break  # unknowable tail: replay the contiguous prefix only
            resume_replay.append(recomputed)
        if len(resume_replay) == iterations:
            updated = resume_replay[-1] if resume_replay else n
        else:
            updated = n  # conservative: keep sweeping
        unstable = updated > 0
    else:
        state = None
        iterations, updated, unstable = 0, n, True
        resume_replay = []
    vols = volumes_df(edges).persist()
    vols.count()
    # block -> touched-dst structure, computed once per level; the aliases
    # mint fresh attribute ids (see lpa_async: cogroup self-join ambiguity)
    touch = (
        edges.select(
            F.pmod(F.col("src"), F.lit(num_blocks)).alias("block"),
            F.col("dst").alias("dst"),
        )
        .distinct()
        .repartition(p, "dst")
        .persist()
    )
    touch.count()
    if state is None:
        state = drv.start(
            vertex_range(spark, n)
            .withColumn("label", F.col("vid"))
            .repartition(p, "vid")
        )
    # Frontier (the reference's `updated` counter insight, plm.cc:289, made
    # a work filter): after sweep 1, a block whose vertices all have (a) an
    # untouched own community and (b) only neighbors in untouched
    # communities provably repeats its no-move decision, so it need not be
    # gathered. Touched communities V_t = old ∪ new labels of sweep t-1's
    # movers. PROOF of output identity (block granularity): d ∉ V_t means
    # no member of community d moved at any point during sweep t-1, so
    # comm_vol(d) was constant through the sweep and equals the sweep-t
    # start value; a neighbor that changed label is itself a mover, so its
    # labels (old+new) ∈ V_t. An inactive vertex therefore re-evaluates dQ
    # on bit-identical inputs and re-decides "no move"; by induction over
    # the block's sweep order an all-inactive block performs zero moves and
    # zero incremental comm_vol updates — exactly what skipping it yields.
    # Blocks are independent within a sweep (Jacobi across blocks), so
    # skipping cannot perturb gathered blocks.
    # Oscillation breaker (multi-block only; num_blocks=1 is sequential
    # Gauss-Seidel, which strictly increases modularity per move and needs
    # none of this): Jacobi-across-blocks staleness can cycle — e.g. a ring
    # of supernodes where every vertex adopts its neighbor's label each
    # sweep, moved == const forever (the reference's racy OpenMP sweeps
    # break such symmetry by accident; a deterministic BSP twin must break
    # it on purpose). Detection: the moved count repeating exactly. Cure:
    # subsequent sweeps freeze a deterministic half of the vertices
    # (movable_mask re-rolls per sweep), so any swap cycle is split with
    # prob 1/2 per sweep and resolves into a merge. A hard bound
    # (plateau >= 10) guarantees termination with the partition built so
    # far — coarsening then still makes progress if anything moved.
    active_blocks: list[int] | None = None
    prev_updated, plateau, frozen_mode = None, 0, False
    freeze_this, confirm_pending = False, False

    def _breaker_step(u: int) -> None:
        """One transition of the plateau/freeze state machine — shared by
        the live loop and the resume replay so a resumed run reproduces the
        killed run's freeze schedule exactly."""
        nonlocal prev_updated, plateau, frozen_mode, freeze_this, confirm_pending
        was_frozen = freeze_this
        # plateau detection = EXACT count equality, on purpose: a relative
        # (~1.5%) tolerance was tried and measured worse (RMAT level-1:
        # 36 -> 42 sweeps) — near-equal counts are usually residual real
        # progress that a premature freeze halves; a true cycle repeats the
        # count bit-exactly within a few sweeps.
        if num_blocks > 1 and u > 0 and u == prev_updated:
            plateau += 1
        else:
            plateau = 0
        prev_updated = u
        # STICKY freeze: once an oscillation is detected, every further
        # sweep of this level runs half-frozen (mask re-rolled per sweep) —
        # each resolves ~half the surviving cycles into merges, so the tail
        # is O(log cycle_count) sweeps. De-escalation was tried and
        # measured WORSE on both test shapes (ring 18 -> 22 sweeps, RMAT
        # 36 -> 42): after exiting freeze the cycle regime re-emerges at a
        # lower amplitude and detection lags it, so the level just
        # re-enters freeze after several wasted full sweeps.
        if plateau >= 2:
            frozen_mode = True
        freeze_this = frozen_mode
        # a half-frozen sweep reaching the stop condition cannot prove
        # convergence (the frozen half was never evaluated): run one FULL
        # confirmation sweep before exiting
        confirm_pending = was_frozen and u <= threshold
        if confirm_pending:
            freeze_this = False

    for u in resume_replay:
        _breaker_step(u)
    if plateau >= 10:
        # the killed run tripped the hard termination bound right before
        # dying (its install() logged, its finish() did not): entering the
        # sweep loop would run an extra frozen sweep the uninterrupted run
        # never executed — skip straight to finish with the state as-is
        unstable, updated, confirm_pending = False, 0, False
    while (unstable and updated > threshold) or confirm_pending:
        if max_sweeps is not None and iterations >= max_sweeps:
            break
        iterations += 1
        new_state = drv.prepare(
            _local_move_step(
                edges, touch, state, vols, w_net, num_blocks, active_blocks,
                freeze_sweep=iterations if freeze_this else None,
            ),
            iterations,
        )
        delta = (
            new_state.withColumnRenamed("label", "l2")
            .join(state, "vid")
            .where(F.col("l2") != F.col("label"))
        )
        updated = delta.count()  # the one action that fills the cache
        was_frozen = freeze_this
        _breaker_step(updated)
        if plateau >= 10:
            state = drv.install(new_state, iterations, moved=updated)
            break
        # adaptive frontier gate: the active-set computation is an extra
        # (touch ⋈ movers) job per sweep — pure overhead while most of the
        # graph is still churning (measured: 2x slower on a 12-sweep RMAT
        # window with no gate). Only hunt for skippable blocks once movers
        # have dropped below n/8 (the convergence tail, where it pays —
        # PERFORMANCE.md), and never in/around freeze sweeps: the skip
        # proof assumes every skipped vertex evaluated-and-stayed.
        if (
            frontier
            and not freeze_this
            and not was_frozen
            and 0 < updated < max(n // 8, 1)
            and num_blocks > 1
        ):
            touched_comms = delta.select(
                F.explode(F.array(F.col("label"), F.col("l2"))).alias("label")
            ).distinct()
            touched_vids = new_state.join(touched_comms, "label").select(
                F.col("vid").alias("dst")
            )
            blocks = (
                touched_vids.select(
                    F.pmod(F.col("dst"), F.lit(num_blocks)).alias("block")
                )
                .unionAll(touch.join(touched_vids, "dst").select("block"))
                .distinct()
                .collect()  # ≤ num_blocks rows — driver-size safe
            )
            active = sorted(int(r["block"]) for r in blocks)
            active_blocks = None if len(active) >= num_blocks else active
        else:
            active_blocks = None
        state = drv.install(new_state, iterations, moved=updated)
        unstable = updated > 0
    out = drv.finish(iterations)
    vols.unpersist()
    touch.unpersist()
    if iterations > 1:
        # localCheckpoint: the relabel window must not re-enter the sweep
        # lineage at every downstream reference
        out = dense_relabel(out).localCheckpoint(eager=True)
    return out, iterations


def coarsen_edges(edges: DataFrame, state: DataFrame) -> DataFrame:
    """Contract each community to a supernode (plm.cc:48-171)."""
    return (
        edges.join(
            state.select(F.col("vid").alias("src"), F.col("label").alias("c_src")),
            "src",
        )
        .join(
            state.select(F.col("vid").alias("dst"), F.col("label").alias("c_dst")),
            "dst",
        )
        .groupBy(
            F.col("c_src").alias("src"), F.col("c_dst").alias("dst")
        )
        .agg(F.sum("weight").alias("weight"))
    )


def _drop_checkpoint_blocks(cut: DataFrame) -> None:
    """Free the blocks of a local checkpoint whose one reader has been
    cached. Spark has no public call for this; left alone they stay in
    the block manager until a driver-JVM GC lets the ContextCleaner drop
    the RDD. A recompute of the cache would then fail, so the cache must
    spill rather than drop blocks (persist()'s default level does)."""
    cut._jdf.queryExecution().analyzed().rdd().unpersist(False)


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    eps: float = 1e-5,
    num_blocks: int | None = None,
    max_levels: int | None = None,
    max_sweeps: int | None = None,
    driver_factory=None,
    frontier: bool = True,
    resume: bool = False,
) -> tuple[DataFrame, int]:
    """Full recursive Louvain. Returns ((vid, label), levels).

    ``resume=True`` (requires ``driver_factory`` handing out per-level
    stores, e.g. run_id-L{n}): levels whose store holds a final snapshot
    fast-path through it; the level killed mid-sweep reseeds its counters
    from the metrics history and continues. The recursion is deterministic,
    so the factory hands out the SAME run-id sequence as the killed run —
    that naming is the level marker (plm.cc:336-412 is the recursive driver
    this protects).

    ``frontier``: skip gathering blocks that provably cannot move this
    sweep (output-identical — see _local_move; False forces full sweeps,
    kept for the parity tests that pin the identity).

    ``num_blocks`` defaults to the shuffle-partition count
    (lpa_async.default_num_blocks); pass 1 explicitly for oracle-parity
    mode — a silent single-block default would serialize the whole graph
    into one Python task.

    ``driver_factory()`` -> IterationDriver lets callers give each level its
    own checkpoint store.
    """
    if num_blocks is None:
        from comm_detect_spark.operators.lpa_async import default_num_blocks

        num_blocks = default_num_blocks(spark)
    return _louvain_level(
        spark, edges, n, None, eps, num_blocks, max_levels, max_sweeps,
        driver_factory, 1, frontier, resume,
    )


def _louvain_level(
    spark, edges, n, w_net, eps, num_blocks, max_levels, max_sweeps,
    driver_factory, level, frontier=True, resume=False,
):
    p = adaptive_partitions(spark, n)
    # the lineage cut sits UNDER the persisted repartition and is filled
    # by the same count job (its blocks hold a row copy of the input);
    # once the cache is filled nothing reads the cut, so its blocks go.
    # Cutting above it measured worse (PERFORMANCE.md): an eager
    # localCheckpoint of the repartition loses the hash(src, p)
    # partitioning under AQE, and planned non-adaptive it makes the
    # vols/touch caches built on it miss
    cut = edges.localCheckpoint(eager=False)
    e = cut.repartition(p, "src").persist()
    e.count()
    _drop_checkpoint_blocks(cut)
    if w_net is None:  # level 1; invariant across levels (plm.cc:151)
        w_net = weight_net(e)
    drv = driver_factory() if driver_factory else None
    state, _ = _local_move(
        spark, e, n, w_net, eps, num_blocks, drv, max_sweeps=max_sweeps,
        frontier=frontier, resume=resume,
    )
    moved_any = state.where(F.col("label") != F.col("vid")).count() > 0
    if moved_any and (max_levels is None or level < max_levels):
        # coarse size = max label + 1 (plm.cc:57,359 — NOT the distinct
        # count: a 1-sweep local move skips the dense relabel, plm.cc:323,
        # and unused ids become isolated supernodes, as in the reference)
        n2 = int(state.agg(F.max("label")).collect()[0][0]) + 1
        if n2 < n:  # guard: cross-block swaps could leave k == n
            # the next level's cut materializes the coarse graph in its
            # own count job, so it needs no checkpoint job of its own
            coarse_state, sub_levels = _louvain_level(
                spark,
                coarsen_edges(e, state),
                n2,
                w_net,
                eps,
                num_blocks,
                max_levels,
                max_sweeps,
                driver_factory,
                level + 1,
                frontier,
                resume,
            )
            # prolong: label[i] <- coarse_label[label[i]] (plm.cc:174-185)
            state = state.join(
                coarse_state.select(
                    F.col("vid").alias("label"),
                    F.col("label").alias("coarse_label"),
                ),
                "label",
            ).select("vid", F.col("coarse_label").alias("label"))
            state = state.localCheckpoint(eager=True)
            e.unpersist()
            # sub_levels is already the absolute deepest level reached
            return state, sub_levels
    e.unpersist()
    return state, level
