"""Benchmark of the comm_detect_spark link-graph engine.

    python3 perfbench/run.py --workload pagerank-rmat --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout: the library is imported from that
checkout (and put on the Spark Python workers' PYTHONPATH), so each commit
measures its own code. One run:

1. starts the session and builds the inputs (generated from ``--seed``,
   persisted, pages written), then ``WARM_SETUPS`` times restarts the
   session in the running JVM and builds them again; ``setup_s`` is the
   median of those warm set-ups;
2. computes the NumPy-oracle references, untimed;
3. runs the workload's warm-up jobs, then timed jobs for ``--seconds``
   (at least ``MIN_TIMED_JOBS``), checking every result against the
   references and cancelling a job still running after
   ``JOB_TIMEOUT_S``;
4. prints a readable summary and, as its last line, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
   with ``--trace 1``.

With ``--trace 1`` every workload runs a warm-up job, then at least two
pairs of one untraced and one traced job, the order swapped from pair to
pair and from seed to seed; per-layer numbers are medians over the
traced jobs, ``trace.overhead_frac`` compares the two kinds, and the
span tree is written to
``.perfbench/spans-<workload>-seed<seed>.json``.

Exit status: 0 when every job matched the oracle, 1 when one did not, 2
when the benchmark could not run (e.g. the library is not in the
checkout).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"

# a run must end within 180 s: start no job likely to end after
# RUN_BUDGET_S, and cancel any job still running at RUN_LIMIT_S
RUN_BUDGET_S = 150.0
RUN_LIMIT_S = 160.0
JOB_TIMEOUT_S = 120.0
# set-ups after the cold one; setup_s is their median
WARM_SETUPS = 2
MIN_TIMED_JOBS = 1

# pinned session settings (README.md records why)
DRIVER_MEMORY = "2g"
JVM_OPTIONS = ("-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-XX:-UsePerfData")
SHUFFLE_PARTITIONS_PER_CORE = 2
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # a traced job's stages must still be in the status store when read
    "spark.ui.retainedJobs": "5000",
    "spark.ui.retainedStages": "5000",
}

ITERATIVE_OPS = ("pagerank", "lpa_sync", "connected_components", "louvain")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: Path) -> None:
    """Point the library import, the Python workers, temp files and
    Spark's scratch space at this checkout, before any JVM starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    # the env var would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)


def stop_processes() -> None:
    """Let the JVM exit the way PySpark means it to, by closing its stdin
    (its shutdown hooks then run), then end every process this run
    started, orphaned ones included, and wait until each has ended."""
    from probes import stop_descendants

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.close()
        except Exception:  # the connection may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                pass
        pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None
    left = stop_descendants()
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)


def start_session(work: Path):
    from comm_detect_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(
            [f"-Djava.io.tmpdir={work / 'tmp'}", *JVM_OPTIONS]),
        **SPARK_CONF,
    }
    spark = get_spark(
        app_name="perfbench",
        cores=n,
        shuffle_partitions=SHUFFLE_PARTITIONS_PER_CORE * n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def quantile_beyond(values: list[float], tail: int = 10):
    """(q, value): the highest percentile q with at least ``tail`` samples
    above it, or None when there are too few samples."""
    if len(values) < 2 * tail:
        return None
    q = int(100 * (1 - tail / len(values)))
    return q, statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Watchdog:
    """Cancels every Spark job once ``timeout_s`` has passed, and again
    each second until the watched block ends, so a job that hangs in
    Spark raises instead of running on; ``fired`` tells that it did."""

    def __init__(self, sc, timeout_s: float):
        self.sc, self.timeout_s = sc, timeout_s
        self.fired = False
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._watch, daemon=True)

    def _watch(self) -> None:
        if self._done.wait(self.timeout_s):
            return
        self.fired = True
        while True:
            self.sc.cancelAllJobs()
            if self._done.wait(1.0):
                return

    def __enter__(self) -> "Watchdog":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload_cls, size: dict, seed: int, work: Path):
        self.cls, self.size, self.seed = workload_cls, size, seed
        self.work = work
        self.cores = cores()
        self.created = time.perf_counter()
        self.spark = None
        self.setups: list[dict] = []
        self.jobs: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def setup(self, warm: int) -> None:
        """Start the session and build the inputs from the seed (the cold
        set-up: JVM launch, first-use JIT, first Python workers), then
        ``warm`` times stop the session, start it again in the running JVM
        and build the inputs again. Each set-up records its session start
        plus its build as ``setup_s``; the cold session start is kept
        apart as ``session_s``."""
        from comm_detect_spark.graph.core import adaptive_partitions
        from tracing import Tracer

        for k in range(1 + warm):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.work)
            t1 = time.perf_counter()
            tr = Tracer()
            self.wl = self.cls(self.size, self.seed, self.cores, str(self.work))
            self.wl.setup(self.spark, tr)
            rec = {"cold": k == 0, "setup_s": time.perf_counter() - t0,
                   "session_s": t1 - t0}
            for sp in tr.phases():
                rec[f"{sp['name']}_s"] = sp["end"] - sp["start"]
            self.setups.append(rec)
        self.session_s = self.setups[0]["session_s"]
        self.shape = self.wl.reference()
        self.partitions = adaptive_partitions(self.spark, self.wl.n)

    # -- jobs -----------------------------------------------------------
    def job(self, traced: bool, warmup: bool = False) -> dict:
        from probes import RssSampler, tree_cpu_s
        from tracing import Tracer, spark_stage_stats

        idx = len(self.jobs)
        sc = self.spark.sparkContext
        tr = Tracer(sc if traced else None, prefix=f"j{idx}")
        rec = {"traced": traced, "warmup": warmup, "error": None,
               "mismatches": []}
        res = None
        timeout_s = min(JOB_TIMEOUT_S,
                        RUN_LIMIT_S - (time.perf_counter() - self.created))
        with Watchdog(sc, timeout_s) as dog, RssSampler() as rss:
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                res = self.wl.job(self.spark, tr, f"j{idx}")
            except Exception:  # a failed job is counted, the run goes on
                rec["error"] = traceback.format_exc()
            rec["wall_s"] = time.perf_counter() - t0
            cpu1 = tree_cpu_s()
        rec["cpu_s"] = cpu1 - cpu0 - rss.cpu_s
        if traced:
            sc.setJobGroup("perfbench|untimed", "untimed")
        rec["peak_rss_mb"] = rss.peak_mb
        if dog.fired:
            rec["error"] = (f"job cancelled after {timeout_s:.0f} s\n"
                            + (rec["error"] or ""))
        elif res is not None:
            rec["mismatches"] = self.wl.check(res)
        rec["ok"] = rec["error"] is None and not rec["mismatches"]
        rec["ops"] = [
            {"op": c.op, "wall_s": c.wall_s, "edge_rows": c.edge_rows,
             "iterations": c.iterations,
             "setup_s": c.setup_s,
             "levels": c.levels, "installed": c.installed()}
            for c in tr.ops
        ]
        rec["phases"] = {}
        for sp in tr.phases():
            key = f"{sp['name']}_s"
            rec["phases"][key] = rec["phases"].get(key, 0.0) + (
                sp["end"] - sp["start"])
        rec["result_edges"] = res.get("edges") if res else None
        if traced and res is not None:
            rec["layers"] = spark_stage_stats(tr, rec["wall_s"], self.cores)
            rec["layers"].update(store_stats(tr))
            rec["spans"] = tr.spans
        if res is not None:
            self.wl.release(res)
        self.jobs.append(rec)
        return rec

    def measure(self, seconds: float, traced: bool, warmups: int) -> None:
        """``warmups`` jobs first (checked, left out of every timing; at
        least one in a traced run), then timed jobs for ``seconds`` and at
        least ``MIN_TIMED_JOBS``, but none started that would likely end
        past ``RUN_BUDGET_S`` on the run's clock. A traced run times pairs
        of one untraced and one traced job, at least two pairs, and swaps
        their order from pair to pair (untraced, traced, traced, untraced)
        and from seed to seed, so that a drift from job to job cancels
        out of ``trace.overhead_frac``."""
        if traced:
            warmups = max(warmups, 1)
        for _ in range(warmups):
            self.job(False, warmup=True)
        min_jobs = 4 if traced else MIN_TIMED_JOBS
        t0 = time.perf_counter()
        for k in itertools.count(1):
            pair, second = divmod(k - 1, 2)
            rec = self.job(traced and (pair + second + self.seed) % 2 == 1)
            now = time.perf_counter()
            whole_pair = not traced or second == 1
            if now - t0 >= seconds and k >= min_jobs and whole_pair:
                break
            if now - self.created + rec["wall_s"] > RUN_BUDGET_S:
                break

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def store_stats(tr) -> dict:
    mb = 1024.0 * 1024.0
    return {
        "plans.checkpoint.save_s": sum(s.save_s for s in tr.stores),
        "plans.checkpoint.mb_written": sum(s.bytes_written for s in tr.stores) / mb,
        "plans.checkpoint.snapshots": sum(s.snapshots for s in tr.stores),
    }


def warm_setups(run: Run) -> list[dict]:
    """The set-ups ``setup_s`` is taken over: the warm ones, or the cold
    one when a run made no other."""
    return [s for s in run.setups if not s["cold"]] or run.setups


def end_to_end(run: Run) -> dict:
    timed = [j for j in run.jobs if not (j["traced"] or j["warmup"])]
    ops = [o for j in timed for o in j["ops"] if o["op"] in ITERATIVE_OPS]
    work = sum(o["edge_rows"] * o["iterations"] for o in ops)
    op_wall = sum(o["wall_s"] for o in ops)
    return {
        "setup_s": statistics.median(s["setup_s"] for s in warm_setups(run)),
        "job_s": statistics.median(j["wall_s"] for j in timed),
        "job_cpu_s": statistics.median(j["cpu_s"] for j in timed),

        "edges_per_s_per_iter": work / op_wall if op_wall else 0.0,
        "peak_rss_mb": statistics.median(j["peak_rss_mb"] for j in timed),
    }


def per_layer(run: Run, anchor: float) -> dict:
    traced = [j for j in run.jobs if "layers" in j]
    if not traced:
        raise RuntimeError("no traced job completed")
    plain = [j for j in run.jobs if not (j["traced"] or j["warmup"])]

    def med(fn) -> float:
        return statistics.median(fn(j) for j in traced)

    def op_sum(job, op, field):
        return sum(o[field] or 0 for o in job["ops"] if o["op"] == op)

    def setup_med(key):
        return statistics.median(s.get(key, 0.0) for s in warm_setups(run))

    out = {
        "session.start_s": run.session_s,
        "session.restart_s": setup_med("session_s"),
        "sources.rmat_s": setup_med("sources.rmat_s"),
        "sources.pages_s": setup_med("sources.pages_s"),
        "sources.extract_edges_s": med(
            lambda j: j["phases"].get("sources.extract_edges_s", 0.0)),
        "sources.pages_to_graph_s": med(
            lambda j: j["phases"].get("sources.pages_to_graph_s", 0.0)),
        "sources.edges": med(
            lambda j: j["result_edges"] or run.shape["edge_rows"]),
        "graph.partitions": run.partitions,
        "operators.modularity_score_s": med(
            lambda j: j["phases"].get("modularity_score_s", 0.0)),
    }
    for op in ITERATIVE_OPS:
        out[f"operators.{op}_s"] = med(lambda j: op_sum(j, op, "wall_s"))
        out[f"operators.{op}.setup_s"] = med(lambda j: op_sum(j, op, "setup_s"))
        out[f"operators.{op}.iterations"] = med(
            lambda j: op_sum(j, op, "iterations"))
    out["operators.louvain.levels"] = med(lambda j: op_sum(j, "louvain", "levels"))

    def productive(job):
        rows = [r for o in job["ops"] if o["op"] == "louvain"
                for r in o["installed"]]
        return sum(1 for r in rows if r.get("moved", 0) > 0) / len(rows) if rows else 0.0

    out["operators.louvain.productive_sweep_frac"] = med(productive)
    for key in traced[0]["layers"]:
        out[key] = med(lambda j: j["layers"][key])
    out["host.anchor"] = anchor
    untraced_s = statistics.median(j["wall_s"] for j in plain)
    out["trace.overhead_frac"] = (
        statistics.median(j["wall_s"] for j in traced) - untraced_s
    ) / untraced_s
    out["trace.phase_cover_frac"] = med(
        lambda j: sum(j["phases"].values()) / j["wall_s"])
    out["bench.timed_jobs"] = len(plain)
    return out


def select(metrics: dict, spec: list[dict]) -> dict:
    """The metrics BENCHMARK.json names, in its order, with its units."""
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in spec}


def unit_of(name: str, spec: list[dict]) -> str:
    """The unit BENCHMARK.json gives ``name``, or, for a metric the summary
    prints that BENCHMARK.json does not list, the unit its name implies."""
    for m in spec:
        if m["name"] == name:
            return m["unit"]
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("edges_per_s"):
        return "1/s"
    return "s" if name.endswith("_s") else "count"


def summary(run: Run, metrics: dict, spec: list[dict]) -> list[str]:
    n_fail = sum(1 for j in run.jobs if not j["ok"])
    lines = [f"workload {run.cls.name} seed {run.seed}: "
             + ", ".join(f"{k}={v}" for k, v in run.shape.items()),
             "  set-ups: " + "; ".join(
                 ("cold: " if s["cold"] else "")
                 + ", ".join(f"{k} {v:.3f}" for k, v in s.items() if k != "cold")
                 for s in run.setups)]
    for name, value in metrics.items():
        lines.append(f"  {name} = {value:.6g} {unit_of(name, spec)}")
    walls = [j["wall_s"] for j in run.jobs
             if not (j["traced"] or j["warmup"])]
    tail = quantile_beyond(walls)
    lines.append(f"  job_s samples = {len(walls)}"
                 + (f", p{tail[0]} = {tail[1]:.4g} s" if tail else ""))
    lines.append(f"  failed_frac = {n_fail / len(run.jobs):.4g} "
                 f"({n_fail} of {len(run.jobs)} jobs)")
    for i, j in enumerate(run.jobs):
        kind = " warm-up" if j["warmup"] else " traced" if j["traced"] else ""
        lines.append(f"  job {i}{kind}: "
                     f"{j['wall_s']:.3f} s = " + " + ".join(
                         f"{k[:-2]} {v:.3f}" for k, v in j["phases"].items()))
        if j["error"]:
            lines.append("  job error:\n" + j["error"])
        for m in j["mismatches"]:
            lines.append(f"  oracle mismatch: {m}")
    return lines


def run_one(args, bench: dict, settings: dict, work: Path) -> int:
    from probes import host_anchor
    from workloads import WORKLOADS

    run = Run(WORKLOADS[args.workload], settings["sizes"]["full"][args.workload],
              args.seed, work)
    try:
        run.setup(WARM_SETUPS)
        run.measure(args.seconds, traced=bool(args.trace),
                    warmups=settings["warmup_jobs"].get(args.workload, 0))
    finally:
        run.stop()
    n_fail = sum(1 for j in run.jobs if not j["ok"])
    if args.trace:
        spec = bench["per_layer"]
        metrics = per_layer(run, host_anchor())
        spans = [{"job": i, **sp} for i, j in enumerate(run.jobs)
                 for sp in j.get("spans", [])]
        with open(OUT / f"spans-{args.workload}-seed{args.seed}.json", "w") as fh:
            json.dump(spans, fh)
    else:
        spec = bench["end_to_end"]
        metrics = end_to_end(run)
    all_specs = bench["end_to_end"] + bench["per_layer"]
    print("\n".join(summary(run, metrics, all_specs)), flush=True)
    print(json.dumps({
        "correct": n_fail == 0,
        "attempted": len(run.jobs),
        "failed": n_fail,
        "metrics": select(metrics, spec),
    }), flush=True)
    return 0 if n_fail == 0 else 1


def selftest(settings: dict, work: Path) -> int:
    """Every workload at a tiny size: set up cold and once warm, one
    untraced and one traced job each, oracle-checked, metrics computed."""
    from workloads import WORKLOADS

    failed = 0
    for name, cls in WORKLOADS.items():
        run = Run(cls, settings["sizes"]["selftest"][name], 1, work)
        t0 = time.perf_counter()
        try:
            run.setup(1)
            run.job(traced=False)
            run.job(traced=True)
        finally:
            run.stop()
        e2e, layers = end_to_end(run), per_layer(run, 0.0)
        bad = [m for j in run.jobs for m in j["mismatches"]]
        bad += [j["error"] for j in run.jobs if j["error"]]
        if not 0.95 <= layers["trace.phase_cover_frac"] <= 1.0:
            bad.append(f"phase spans cover {layers['trace.phase_cover_frac']:.3f}"
                       " of the job wall")
        if layers["spark.jobs"] < 1 or e2e["edges_per_s_per_iter"] <= 0:
            bad.append("traced job recorded no Spark jobs or no iterations")
        failed += bool(bad)
        print(f"selftest {name}: {'FAIL' if bad else 'ok'} "
              f"({time.perf_counter() - t0:.1f} s, job_s {e2e['job_s']:.2f}, "
              f"spark.jobs {layers['spark.jobs']})", flush=True)
        for m in bad:
            print(f"  {m}", flush=True)
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload at a tiny size and exit")
    args = ap.parse_args(argv)
    # every way out runs the clean-up below: a SIGTERM raises SystemExit,
    # and orphaned grandchildren are reparented here to be waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from probes import become_subreaper
    become_subreaper()

    bench_file = ROOT / "BENCHMARK.json"
    settings = json.loads((HERE / "settings.json").read_text())
    work = OUT / f"run-{os.getpid()}"
    prepare_environment(work)
    try:
        import comm_detect_spark  # noqa: F401  (the checkout under test)
        bench = json.loads(bench_file.read_text())
        from workloads import WORKLOADS
    except (ImportError, OSError, ValueError) as exc:
        print(f"perfbench: cannot run here: {exc!r}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        if args.selftest:
            return selftest(settings, work)
        if args.workload not in WORKLOADS:
            ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
        return run_one(args, bench, settings, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
