"""Benchmark harness: times the headline query set at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], then the sf1,
longdoc and codec tiers, and prints TWO JSON lines — the full-detail
artifact, then a compact summary as the FINAL line (the one a bounded
stdout tail parses):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>, "value_median": <total sec>,
   "tiers": {tier: <total sec> | null, ...}, "detail": "..."}

Every set is timed the same way: the set runs WARM_PASSES times to warm
(JVM JIT, parquet footers, codegen), then each query `runs` times; a
query's time is the min of its runs (anything above it is scheduler/GC
jitter) and the median rides along, as does `codegen_compiles`, the
classes compiled during the timed runs (0 once the generated-class cache
holds the set). Each run materializes the query through the `noop` sink —
full computation, no driver-side collection cost, no column-pruning
shortcut a count() would take. A/B comparisons between trees are
perfbench's job (`perfbench/run.py`); this script only times the tree it
runs in.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The headline set: one per operator family, weighted toward the shapes
# that dominate real pipelines (scan+agg, join+agg+topk, window, dedup, knn).
BENCH_QUERIES = [
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
]
HEADLINE_RUNS = 5
# Untimed passes over a set before its timed runs. With one, the next
# headline set timed in the same session still read 9% faster (sf0.1,
# 4 cores: 4.878, 4.461, 4.444 s); pass by pass the headline read 23.4,
# 8.0, then 4.0-4.9 s with no trend from the third pass on.
WARM_PASSES = 2


def _sf1_dir(sf_dir: str) -> str:
    from tools.make_sf import ensure_sf1

    return ensure_sf1(REPO)


def _longdoc_dir(sf_dir: str) -> str:
    from tools.make_sf import ensure_longdoc

    return ensure_longdoc(REPO)


def _headline_dir(sf_dir: str) -> str:
    return sf_dir


# The tiers timed after the headline, each reported under its own key so
# "value" stays the headline: name -> (data directory given the headline
# directory, timed runs per query, queries).
# - sf1: the scale-sensitive subset on the 10x replication of the sf0.1
#   data (tools/make_sf.py), where shuffle blow-ups and id-layout or
#   numeric drift show.
# - longdoc: chunk/pack/minhash/CDC/BPE on a corpus whose largest doc is
#   100k tokens (tests/test_longdoc.py::test_longdoc_timed_budget is the
#   hard tripwire).
# - codec: the multimodal pure-Python kernels inside blob-parallel
#   mapInPandas, which the JVM-side headline set cannot see.
TIERS = {
    "sf1": (
        _sf1_dir,
        2,
        [
            "q1_pricing_summary",
            "dedup_minhash_lsh",
            "events_sessionization",
            "knn_lsh_bucketed",
            "pipeline_assign_ids",
            "pipeline_global_shuffle",
        ],
    ),
    "longdoc": (
        _longdoc_dir,
        2,
        [
            "pipeline_chunk_documents",
            "pipeline_pack_sequences",
            "dedup_minhash_lsh",
            "dedup_cdc_chunks",
            "text_bpe_apply",
            "text_lm_score",
        ],
    ),
    "codec": (
        _headline_dir,
        3,
        [
            "multimodal_jpeg_roundtrip",
            "multimodal_jpeg_color_roundtrip",
            "multimodal_mjpeg_avi_roundtrip",
            "multimodal_mulaw_roundtrip",
            "multimodal_gif_roundtrip",
        ],
    ),
}


def codegen_compiles(spark) -> int:
    """Classes whole-stage and expression codegen have compiled in this
    JVM so far (driver and local executors share it)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def time_set(spark, specs, data_dir: str, queries: list[str], runs: int) -> dict:
    """Warm the set WARM_PASSES times, then time each query `runs` times;
    return the set's per-query mins, medians and sorted run lists, their
    totals, and the classes compiled during the timed runs."""

    def run(name: str) -> float:
        t0 = time.perf_counter()
        specs[name].build(spark, data_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    for _ in range(WARM_PASSES):
        for name in queries:
            run(name)
    compiled = codegen_compiles(spark)
    walls = {name: sorted(round(run(name), 3) for _ in range(runs)) for name in queries}
    compiled = codegen_compiles(spark) - compiled
    mins = {name: w[0] for name, w in walls.items()}
    medians = {name: w[len(w) // 2] for name, w in walls.items()}
    return {
        "data_dir": data_dir,
        "queries": mins,
        "value": round(sum(mins.values()), 3),
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 3),
        "runs_per_query": runs,
        "runs": walls,
        "codegen_compiles": compiled,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.session import get_session

    spark = get_session(app_name="slr207-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    out = {
        "metric": "headline-query wall time, local[%s], sf=%s" % (cpus, sf),
        "unit": "sec",
        "sf": sf,
        **time_set(spark, specs, sf_dir, BENCH_QUERIES, HEADLINE_RUNS),
    }
    for tier, (data_dir, runs, queries) in TIERS.items():
        try:  # a failing tier must never break the headline bench
            out[tier] = time_set(spark, specs, data_dir(sf_dir), queries, runs)
        except Exception as e:
            traceback.print_exc()
            out[tier] = {"error": f"{type(e).__name__}: {e}"}

    # The detail line (per-run lists of every set) outgrows a 2,000-char
    # stdout tail, so the compact summary comes last.
    print(json.dumps(out))
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": out["queries"],
        "sf": sf,
        "value_median": out["value_median"],
        "tiers": {tier: out[tier].get("value") for tier in TIERS},
        "detail": "full artifact on the previous stdout line",
    }
    print(json.dumps(compact))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
