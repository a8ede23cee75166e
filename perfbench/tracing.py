"""Spans, iteration drivers and Spark stage metrics, all from outside the
library.

Nothing in ``comm_detect_spark`` is patched. The benchmark reaches the
engine's layers only through its public API:

* :class:`BenchDriver` subclasses ``plans.driver.IterationDriver`` and is
  handed to the operators through their ``driver=`` / ``driver_factory=``
  parameters. It counts iterations and keeps the metrics every
  ``install(**metrics)`` receives; in a traced run it also records a span
  and sets a Spark job group per ``start``/``prepare``/``step``/
  ``install``/``finish`` call.
* :class:`BenchStore` subclasses ``plans.checkpoint.CheckpointStore`` and
  times each ``save_state`` snapshot.
* :func:`spark_stage_stats` reads per-job and per-stage metrics from
  Spark's AppStatusStore, which works with the UI disabled.

Span tree: job (one workload run) -> phase (a call into one library
function) -> iteration -> driver call; each Spark job hangs under the span
that set its job group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from comm_detect_spark.plans.checkpoint import CheckpointStore
from comm_detect_spark.plans.driver import IterationDriver


class Tracer:
    """Records spans for one benchmark job.

    Phase spans are always recorded (two clock reads each), because the
    end-to-end ``edges_per_s_per_iter`` needs the operator walls. With
    ``sc`` set (a traced run) the tracer also tags Spark jobs with job
    groups ``<prefix>|<span name>|<iteration>`` and records driver-call
    and iteration spans."""

    def __init__(self, sc=None, prefix: str = "j0"):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self.ops: list[OpCall] = []
        self.stores: list[BenchStore] = []
        self._stack: list[dict] = []

    @property
    def traced(self) -> bool:
        return self.sc is not None

    def open(self, name: str, kind: str, start: float | None = None,
             group: str | None = None, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": time.time() if start is None else start,
            "end": None,
            "group": None,
            **attrs,
        }
        if group is not None and self.traced:
            span["group"] = f"{self.prefix}|{group}"
            self.sc.setJobGroup(span["group"], name)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: dict) -> None:
        # closing a span closes whatever an exception left open inside it
        if not any(top is span for top in self._stack):
            return
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.time()
            if top is span:
                return

    @contextmanager
    def span(self, name: str, kind: str, group: str | None = None, **attrs):
        sp = self.open(name, kind, group=group, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def phase(self, name: str):
        """A top-level phase of the job: one call into a library function."""
        return self.span(name, "phase", group=name)

    @contextmanager
    def op(self, name: str, edge_rows: int):
        """An iterative-operator call; drivers come from ``OpCall.driver``."""
        call = OpCall(self, name, edge_rows)
        with self.span(name, "phase", group=name) as sp:
            call.span = sp
            yield call
        self.ops.append(call)

    def phases(self) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "phase"]


class OpCall:
    """One call into an iterative operator and the drivers it was given."""

    def __init__(self, tracer: Tracer, op: str, edge_rows: int):
        self.tracer = tracer
        self.op = op
        self.edge_rows = edge_rows
        self.drivers: list[BenchDriver] = []
        self.span: dict | None = None
        self.levels: int | None = None

    def driver(self, store: CheckpointStore | None = None,
               checkpoint_every: int = 1) -> "BenchDriver":
        drv = BenchDriver(self, store=store, checkpoint_every=checkpoint_every)
        self.drivers.append(drv)
        return drv

    @property
    def wall_s(self) -> float:
        return self.span["end"] - self.span["start"]

    @property
    def iterations(self) -> int:
        return sum(d.iterations for d in self.drivers)

    @property
    def setup_s(self) -> float:
        """Call entry until the first driver's ``start`` returned (0 when
        no driver started)."""
        if not self.drivers or self.drivers[0].started_at is None:
            return 0.0
        return self.drivers[0].started_at - self.span["start"]

    def installed(self) -> list[dict]:
        return [row for d in self.drivers for row in d.installed]


class BenchDriver(IterationDriver):
    """IterationDriver that counts iterations, keeps install() metrics and,
    in a traced run, records one span and one job group per driver call
    plus one span per iteration."""

    def __init__(self, call: OpCall, store: CheckpointStore | None = None,
                 checkpoint_every: int = 1):
        super().__init__(store=store, checkpoint_every=checkpoint_every)
        self.call = call
        self.iterations = 0
        self.installed: list[dict] = []
        self.started_at: float | None = None
        self._iter_span: dict | None = None
        self._boundary: float | None = None
        self._depth = 0  # step() re-enters through prepare()/install()

    def _traced(self, phase: str, iteration: int, fn, *args, **kwargs):
        tr = self.call.tracer
        if not tr.traced:
            return fn(*args, **kwargs)
        if phase in ("prepare", "step") and self._iter_span is None:
            # an iteration runs from the previous one's install (or from
            # start) to its own install: the operator builds the next plan
            # before it calls prepare()/step()
            self._iter_span = tr.open(
                f"{self.call.op}.iteration", "iteration",
                start=self._boundary, iteration=iteration,
            )
        name = f"{self.call.op}.{phase}"
        self._depth += 1
        try:
            with tr.span(name, "driver", group=f"{name}|{iteration}",
                         iteration=iteration):
                out = fn(*args, **kwargs)
        finally:
            self._depth -= 1
        if self._depth == 0 and phase in ("start", "install", "step"):
            if self._iter_span is not None:
                tr.close(self._iter_span)
                self._iter_span = None
            self._boundary = time.time()
        return out

    def start(self, state, iteration: int = 0):
        out = self._traced("start", iteration, super().start, state, iteration)
        if self.started_at is None:
            self.started_at = time.time()
        return out

    def prepare(self, new_state, iteration: int):
        return self._traced("prepare", iteration, super().prepare,
                            new_state, iteration)

    def install(self, prepared, iteration: int, **metrics):
        self.iterations += 1
        self.installed.append(dict(metrics, iteration=iteration))
        return self._traced("install", iteration, super().install,
                            prepared, iteration, **metrics)

    def step(self, new_state, iteration: int, **metrics):
        # IterationDriver.step calls self.prepare and self.install
        return self._traced("step", iteration, super().step,
                            new_state, iteration, **metrics)

    def finish(self, iteration: int, **metrics):
        return self._traced("finish", iteration, super().finish,
                            iteration, **metrics)


class BenchStore(CheckpointStore):
    """CheckpointStore that times each snapshot and, when ``measure_bytes``
    is set, sizes what it wrote."""

    def __init__(self, root: str, run_id: str, measure_bytes: bool):
        super().__init__(root, run_id, algo="bench")
        self.measure_bytes = measure_bytes
        self.save_s = 0.0
        self.snapshots = 0
        self.bytes_written = 0

    def save_state(self, df, iteration: int):
        t0 = time.perf_counter()
        out = super().save_state(df, iteration)
        self.save_s += time.perf_counter() - t0
        self.snapshots += 1
        if self.measure_bytes:
            self.bytes_written += _tree_bytes(self._iter_dir(iteration))
        return out


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# -- Spark AppStatusStore ---------------------------------------------------

def _status_json(sc):
    """(jobs, stages) of the live application as parsed JSON — one py4j
    round trip each, serialized JVM-side by Jackson's Scala module (the
    REST API's own representation of ``JobData``/``StageData``)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    )
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    store = jsc.statusStore()
    empty = jvm.java.util.ArrayList
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(empty())))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(empty(), False, True, quantiles, empty())
        )
    )
    return jobs, stages


def _union_within(intervals, lo: float, hi: float) -> float:
    busy, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            busy += e - s
            cur = e
    return busy


def spark_stage_stats(tracer: Tracer, job_wall_s: float, cores: int) -> dict:
    """Per-layer Spark and driver metrics of one traced job, plus its
    Spark jobs appended to ``tracer.spans`` under the span that set
    their group."""
    jobs, stages = _status_json(tracer.sc)
    by_group = {s["group"]: s for s in tracer.spans if s["group"]}
    mine = [j for j in jobs if j.get("jobGroup") in by_group]
    stage_ids = {sid for j in mine for sid in j["stageIds"]}
    done = [
        s for s in stages
        if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
    ]
    for j in sorted(mine, key=lambda j: j["jobId"]):
        parent = by_group[j["jobGroup"]]
        tracer.spans.append({
            "id": len(tracer.spans), "parent": parent["id"],
            "name": f"spark.job.{j['jobId']}", "kind": "spark_job",
            "start": (j.get("submissionTime") or 0) / 1000.0,
            "end": (j.get("completionTime") or 0) / 1000.0,
            "group": j["jobGroup"], "stages": len(j["stageIds"]),
        })
    stage_iv = [
        (s["submissionTime"] / 1000.0, s["completionTime"] / 1000.0)
        for s in done
        if s.get("submissionTime") and s.get("completionTime")
    ]
    skews = []
    for s in done:
        dist = s.get("taskMetricsDistributions")
        if s["numTasks"] >= 2 and dist:
            med, top = dist["executorRunTime"]
            if med > 0:
                skews.append(top / med)
    run_s = sum(s["executorRunTime"] for s in done) / 1000.0
    mb = 1024.0 * 1024.0
    out = {
        "spark.jobs": len(mine),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"]
                           for s in done),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in done) / 1e9,
        "spark.core_busy_frac": run_s / (job_wall_s * cores),
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in done) / mb,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in done) / mb,
        "spark.spill_mb": sum(s["diskBytesSpilled"] for s in done) / mb,
        "spark.peak_exec_mem_mb": max(
            (s["peakExecutionMemory"] for s in done), default=0
        ) / mb,
        "spark.gc_s": sum(s["jvmGcTime"] for s in done) / 1000.0,
        "spark.task_skew": max(skews, default=1.0),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in done),
    }

    # driver loop: every iteration span of every operator call; a Spark
    # job belongs to an iteration when the span that set its group sits
    # under that iteration span
    spans = tracer.spans
    iters = [s for s in spans if s["kind"] == "iteration" and s["end"]]

    def iteration_of(span):
        while span is not None and span["kind"] != "iteration":
            span = None if span["parent"] is None else spans[span["parent"]]
        return span

    iter_jobs = [j for j in mine if iteration_of(by_group[j["jobGroup"]])]
    done_by_id = {s["stageId"]: s for s in done}
    iter_stages = [
        done_by_id[sid] for j in iter_jobs for sid in j["stageIds"]
        if sid in done_by_id
    ]
    n_it = max(len(iters), 1)
    walls = [s["end"] - s["start"] for s in iters]
    idle = sum(
        w - _union_within(stage_iv, s["start"], s["end"])
        for w, s in zip(walls, iters)
    )
    out.update({
        "plans.driver.iter_s.p50": _quantile(walls, 0.50),
        "plans.driver.iter_s.p95": _quantile(walls, 0.95),
        "plans.driver.jobs_per_iter": len(iter_jobs) / n_it,
        "plans.driver.stages_per_iter": len(iter_stages) / n_it,
        "plans.driver.idle_s_per_iter": idle / n_it,
        "plans.driver.idle_frac": idle / sum(walls) if walls else 0.0,
        "plans.driver.shuffle_write_mb_per_iter": sum(
            s["shuffleWriteBytes"] for s in iter_stages) / mb / n_it,
        "plans.driver.finish_s": sum(
            s["end"] - s["start"] for s in spans
            if s["kind"] == "driver" and s["name"].endswith(".finish")
        ),
    })
    return out


def _quantile(values: list[float], q: float) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1
    ]
