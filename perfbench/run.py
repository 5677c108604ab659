"""Layered, oracle-checked benchmark of the engine.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

One client process runs one workload on ``local[<cores>]`` through the
engine's own ``session.get_session()`` as a closed loop: it submits one
query, waits for it to finish, then submits the next. Every timed query
is written to the ``noop`` sink.

A run has four steps:

1. Inputs. The workload reads one of the engine's fixed test-data tiers
   (TESTDATA.md), the sibling directories of ``sources.tables``'
   ``DEFAULT_SF_DIR``. The replicated workload's tables are built from
   it with ``tools/make_sf.generate`` under ``perfbench/.data`` once per
   checkout.
2. Set-up, timed: ``get_session()`` on a fresh JVM plus the first
   ``all_queries()``.
3. One untimed warm-up pass that collects every query's result, then
   timed passes until ``--seconds`` have elapsed and the workload's
   ``min_passes`` have run. ``--seed`` fixes the query order of every
   pass.
4. The collected results are compared with their DuckDB oracle answers
   (cached under ``perfbench/.data/oracle``) with ``tools/check.py``'s
   comparison. A query that raised or differs counts as failed once.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: passes alternate between traced and untraced, the
traced ones record spans (run > setup > pass > query > build/plan/execute)
and job groups, and the per-layer metrics come from those spans and from
Spark's status store (``layers.py``). The spans and counters are written
to ``perfbench/.out/trace-<workload>.json``. The last line of standard
output is one JSON object with the metrics of the mode.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data")
OUT_DIR = os.path.join(HERE, ".out")

# bench.py's headline set, copied so that the workload changes only with
# this benchmark.
HEADLINE = (
    "wordcount_topk",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "agg_count_distinct",
    "window_rank_topn_per_group",
    "events_sessionization",
    "dedup_minhash_lsh",
    "text_term_stats",
    "knn_bruteforce",
)
DATA_PATH = (
    "q1_pricing_summary",
    "events_sessionization",
    "pipeline_global_shuffle",
    "dedup_clusters",
    "pipeline_dedup_report",
)


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tier: str  # test-data tier, e.g. "sf0.01"
    mult: int  # tools/make_sf replication factor over the tier
    min_passes: int  # timed passes per run, at least


# A run must stay near one minute: a cold JVM start (~10 s) and the
# warm-up pass (~30 s) come first. The headline's short queries vary more
# from pass to pass, so it times two passes; the data-path pass is ~14 s
# and does not get shorter on a smaller base (a 2x and a 5x replication
# both took 13-14 s), so it times one.
WORKLOADS = {
    "headline": Workload(HEADLINE, tier="sf0.01", mult=1, min_passes=2),
    "sf1": Workload(DATA_PATH, tier="sf0.01", mult=5, min_passes=1),
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.load_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_rows": "count",
    "sources.chunk_bytes": "B",
    "catalyst.parsing_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.stages_skipped": "count",
    "sched.skipped_frac": "ratio",
    "sched.tasks": "count",
    "sched.tasks_failed": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.records": "count",
    "spill.disk_bytes": "B",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.cpu_frac": "ratio",
    "exec.task_skew": "ratio",
    "pyworker.cpu_s": "s",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_received": "B",
    "warmup.first_pass_s": "s",
    "jvm.peak_rss_mb": "MB",
    "host.steal_s": "s",
    "host.load1": "load",
    "trace.overhead_frac": "ratio",
}
# Counters that should repeat exactly from one traced pass (and run) to the next.
EXACT_COUNTERS = (
    "plans.build_jobs",
    "sched.jobs",
    "sched.stages",
    "sched.stages_skipped",
    "sched.tasks",
    "sched.tasks_failed",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.records",
    "spill.disk_bytes",
    "sources.scan_bytes",
    "sources.scan_rows",
    "sources.chunk_bytes",
    "pyworker.bytes_sent",
    "pyworker.bytes_received",
)
PHASES = {
    "parsing": "catalyst.parsing_s",
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimization_s",
    "planning": "catalyst.planning_s",
}


def _ensure_dir(path: str, build) -> str:
    """Build ``path`` with ``build(tmp_dir)`` unless a finished copy exists."""
    if os.path.exists(os.path.join(path, ".complete")):
        return path
    tmp = f"{path}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, path)
    return path


def fixture_dir(tier: str) -> str:
    from slr207_mapreduce_spark.sources.tables import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), tier)


def prepare_inputs(wl: Workload) -> str:
    from tools.make_sf import generate

    base = fixture_dir(wl.tier)
    if not os.path.isfile(os.path.join(base, "lineitem.parquet")):
        raise FileNotFoundError(f"test-data tier {base} is missing (see TESTDATA.md)")
    if wl.mult == 1:
        return base
    out = os.path.join(DATA_DIR, f"{wl.tier}-x{wl.mult}")
    return _ensure_dir(out, lambda d: generate(base, d, wl.mult))


def start_engine(conf: dict[str, str]):
    """Cold set-up: ``get_session()`` then the first ``all_queries()``.
    Returns (spark, specs, session seconds, plan-import seconds)."""
    t0 = time.perf_counter()
    from slr207_mapreduce_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf=conf,
    )
    t1 = time.perf_counter()
    from slr207_mapreduce_spark.plans.base import all_queries

    specs = all_queries()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, specs, t1 - t0, t2 - t1


def stop_engine(spark) -> None:
    """Stop the session and end its JVM and the Python workers under it."""
    from pyspark import SparkContext

    import layers

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = layers.descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    layers.wait_gone(workers, timeout=30)


class Run:
    """One benchmark run: a set-up, then passes over a workload."""

    def __init__(self, wl: Workload, data_dir: str, seed: int, traced: bool) -> None:
        self.wl = wl
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.executions = 0
        self.raised: dict[str, str] = {}  # query -> first error
        import layers

        self.tracer = layers.Tracer()
        self.conf = {"spark.ui.showConsoleProgress": "false"}
        if traced:
            # keep every job, stage and execution of the run in the status store
            for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages"):
                self.conf[key] = "1000000"
            self.conf["spark.sql.ui.retainedExecutions"] = "1000000"

    def setup(self) -> tuple[float, float]:
        """Returns (session seconds, plan-import seconds)."""
        with self.tracer.span("setup"):
            self.spark, self.specs, t_sess, t_imp = start_engine(self.conf)
        return t_sess, t_imp

    def _execute(self, name: str, collect: bool = False):
        self.executions += 1
        try:
            df = self.specs[name].build(self.spark, self.data_dir)
            if collect:
                return df.toPandas()
            df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # a failed query is counted, not fatal
            self._failed(name, e)
        return None

    def _failed(self, name: str, e: Exception) -> None:
        self.raised.setdefault(name, f"{type(e).__name__}: {e}")

    def warmup(self) -> tuple[float, dict]:
        """Untimed first pass; collects each query's result for the check."""
        t0 = time.perf_counter()
        results = {n: self._execute(n, collect=True) for n in self.order()}
        return time.perf_counter() - t0, results

    def order(self) -> list[str]:
        return self.rng.sample(self.wl.queries, len(self.wl.queries))

    def timed_pass(self) -> tuple[float, dict[str, float]]:
        per = {}
        t0 = time.perf_counter()
        for name in self.order():
            q0 = time.perf_counter()
            self._execute(name)
            per[name] = time.perf_counter() - q0
        return time.perf_counter() - t0, per

    def traced_pass(self, no: int, acc: dict) -> tuple[float, dict[str, float]]:
        """A pass with spans, job groups, load_table timing and Catalyst
        phases; per-pass sums go into ``acc``."""
        sc = self.spark.sparkContext
        per = {}
        t0 = time.perf_counter()
        with self.tracer.span("pass", no=no, traced=True):
            for name in self.order():
                q0 = time.perf_counter()
                self.executions += 1
                with self.tracer.span("query", query=name):
                    try:
                        sc.setJobGroup(f"p{no}:{name}:build", name)
                        with self.tracer.span("build") as s:
                            df = self.specs[name].build(self.spark, self.data_dir)
                        acc["plans.build_s"] += s["end"] - s["start"]
                        sc.setJobGroup(f"p{no}:{name}:execute", name)
                        qe = df._jdf.queryExecution()
                        with self.tracer.span("plan"):
                            qe.executedPlan()
                        it = qe.tracker().phases().iterator()
                        while it.hasNext():
                            kv = it.next()
                            if kv._1() in PHASES:
                                acc[PHASES[kv._1()]] += kv._2().durationMs() / 1e3
                        with self.tracer.span("execute"):
                            df.write.mode("overwrite").format("noop").save()
                    except Exception as e:
                        self._failed(name, e)
                    finally:
                        sc._jsc.clearJobGroup()
                per[name] = time.perf_counter() - q0
        return time.perf_counter() - t0, per


def check(run: Run, results: dict) -> int:
    """Compare each collected result with its oracle answer. Returns the
    number of queries that raised in any execution or whose result differs."""
    from oracle import OracleCache
    from tools.check import compare

    cache = OracleCache(run.data_dir, os.path.join(DATA_DIR, "oracle"))
    failed = 0
    for name in run.wl.queries:
        if name in run.raised:
            print(f"FAIL {name}: {run.raised[name]}")
            failed += 1
            continue
        sql = run.specs[name].oracle
        problems = compare(results[name], cache.answer(sql)) if sql else []
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
            failed += 1
    return failed


def _geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def untraced(run: Run, seconds: int) -> tuple[dict, dict]:
    setup_s = sum(run.setup())
    warm_s, results = run.warmup()
    print(f"set-up: {setup_s:.3f}; warm-up pass: {warm_s:.3f}")
    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < run.wl.min_passes or time.perf_counter() < deadline:
        passes.append(run.timed_pass())
    per_query = {q: statistics.median(per[q] for _, per in passes) for q in run.wl.queries}
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(w for w, _ in passes),
        "query_geomean_s": _geomean(per_query.values()),
    }
    print(f"{len(passes)} timed passes: " + " ".join(f"{w:.3f}" for w, _ in passes))
    print("per-query median: " + " ".join(f"{q}={t:.3f}" for q, t in per_query.items()))
    return metrics, results


def traced(run: Run, seconds: int, workload: str) -> tuple[dict, dict]:
    import layers

    load_start, steal0 = os.getloadavg()[0], layers.steal_s()
    with run.tracer.span("run", workload=workload):
        t_sess, t_imp = run.setup()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        engine = [m for n, m in sys.modules.items() if n.startswith("slr207_mapreduce_spark")]
        tables = sys.modules["slr207_mapreduce_spark.sources.tables"]
        load = layers.CallTimer(engine, "load_table", tables.load_table)
        with run.tracer.span("warmup") as s:
            _, results = run.warmup()
        warm_s = s["end"] - s["start"]
        walls = {"traced": [], "untraced": []}
        per_pass, groups = [], []
        deadline = time.perf_counter() + seconds
        no = 0
        while not walls["untraced"] or time.perf_counter() < deadline:
            if no % 2 == 0:
                acc = {k: 0.0 for k in ("plans.build_s", *PHASES.values())}
                load.reset()
                cpu0 = layers.pyworker_cpu_s(jvm_pid)
                wall, _ = run.traced_pass(no, acc)
                acc["pyworker.cpu_s"] = layers.pyworker_cpu_s(jvm_pid) - cpu0
                acc["sources.load_s"] = load.seconds
                per_pass.append(acc)
                groups.append({f"p{no}:{q}:{ph}" for q in run.wl.queries for ph in ("build", "execute")})
                walls["traced"].append(wall)
            else:
                with run.tracer.span("pass", no=no, traced=False):
                    walls["untraced"].append(run.timed_pass()[0])
            no += 1
        load.restore()
        with run.tracer.span("status_store"):
            store = layers.StatusStore(run.spark)
            store.drain()
            snap = store.snapshot()
        checks = {"rest_vs_tracker_jobs": []}
        for acc, grp in zip(per_pass, groups):
            acc.update(layers.group_counters(snap, grp))
            acc["sources.chunk_bytes"] = float(layers.scanned_chunk_bytes(snap, grp))
            checks["rest_vs_tracker_jobs"].append(
                [int(acc["sched.jobs"]), store.tracker_job_count(sorted(grp))]
            )
        rss = layers.peak_rss_mb(jvm_pid)
    metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    metrics.update(
        {
            "session.start_s": t_sess,
            "plans.import_s": t_imp,
            "warmup.first_pass_s": warm_s,
            "jvm.peak_rss_mb": rss,
            "host.steal_s": layers.steal_s() - steal0,
            "host.load1": load_start,
            "trace.overhead_frac": statistics.median(walls["traced"])
            / statistics.median(walls["untraced"])
            - 1.0,
        }
    )
    report_trace(run, workload, metrics, per_pass, checks)
    return metrics, results


def report_trace(run: Run, workload: str, metrics: dict, per_pass: list, checks: dict) -> None:
    """Print the counter checks and write the trace file."""
    import layers

    within = [k for k in EXACT_COUNTERS if len({p[k] for p in per_pass}) == 1]
    print(f"traced passes: {len(per_pass)}; counters equal in every pass: {', '.join(within)}")
    differ = [k for k in EXACT_COUNTERS if k not in within]
    if differ:
        print(f"counters that vary between passes: {', '.join(differ)}")
    pairs = checks["rest_vs_tracker_jobs"]
    print("REST job counts match statusTracker: " + ("yes" if all(a == b for a, b in pairs) else f"no {pairs}"))
    if metrics["sources.chunk_bytes"]:
        ratio = metrics["sources.scan_bytes"] / metrics["sources.chunk_bytes"]
        print(f"scan bytes / parquet column-chunk bytes of the scanned columns: {ratio:.3f}")
    path = os.path.join(OUT_DIR, f"trace-{workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)["metrics"]
        same = [k for k in EXACT_COUNTERS if prev.get(k) == metrics[k]]
        print(f"counters equal to the previous traced run: {', '.join(same)}")
        other = [f"{k} {prev.get(k)} -> {metrics[k]}" for k in EXACT_COUNTERS if k not in same]
        if other:
            print(f"counters that differ from the previous traced run: {'; '.join(other)}")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "metrics": metrics,
                "passes": per_pass,
                "checks": checks,
                "spans": layers.span_report(run.tracer.spans),
            },
            f,
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    sys.path[:0] = [HERE, ROOT]
    try:
        import slr207_mapreduce_spark  # noqa: F401
        import tools.check  # noqa: F401
        import tools.make_sf  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    # Temporary files of Python, the JVMs and Spark stay inside the checkout.
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()

    wl = WORKLOADS[args.workload]
    try:
        data_dir = prepare_inputs(wl)
    except FileNotFoundError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run = Run(wl, data_dir, args.seed, traced=bool(args.trace))
    try:
        if args.trace:
            metrics, results = traced(run, args.seconds, args.workload)
            units = PER_LAYER
        else:
            metrics, results = untraced(run, args.seconds)
            units = END_TO_END
    finally:
        if getattr(run, "spark", None) is not None:
            stop_engine(run.spark)
    failed = check(run, results)
    for name, unit in units.items():
        print(f"{name:28s} {metrics[name]:16.6g} {unit}")
    attempted = len(wl.queries)
    print(f"{'failed_frac':28s} {failed / attempted:16.6g} ratio  ({run.executions} executions)")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
