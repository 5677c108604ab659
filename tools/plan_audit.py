"""Physical-plan audit for the headline queries.

For each bench query, prints: shuffle count, broadcast-join count, whether
filters/columns are pushed/pruned at the parquet scans, whether top-K uses
TakeOrderedAndProject, and whether any row-at-a-time Python UDF leaked in.
Output is a markdown table (PLANS.md is the committed snapshot).

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# PLANS — physical-plan audit of the headline + flagship queries

Generated by `python tools/plan_audit.py --write` at sf0.1. Shuffles
exclude BroadcastExchange (broadcasting a dim avoids a shuffle). Every
hot path is UDF-free and under AQE. The FULL registry (every registered
query) is additionally swept for plan anti-patterns as a regression test
— tests/test_plan_sweep.py: no CartesianProduct, no row-at-a-time Python
UDF outside the two deliberate UDF-surface queries, no
BroadcastNestedLoopJoin outside the bounded-side allowlist, no mid-plan
global sort without a limit, no SortMergeJoin with a region/nation-only
side, per-table scan budgets. tests/test_plans.py rebuilds this table in
plan-only mode and fails when any row differs.
"""

TABLE_HEAD = (
    "| query | shuffles | broadcasts | scans | pushdown | read cols | TakeOrdered | PyUDF | AQE |\n"
    "|---|---|---|---|---|---|---|---|---|"
)


def audit(df) -> dict:
    jvm = df._sc._jvm
    simple = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    formatted = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    extended = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "extended")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    return {
        "shuffles": simple.count("Exchange") - simple.count("BroadcastExchange"),
        "broadcasts": simple.count("BroadcastExchange"),
        # tree section only — each scan also appears once in the details list
        "scans": len(re.findall(r"\(\d+\) Scan parquet", formatted)),
        "pushed_any": any(p.strip() for p in pushed),
        "read_cols": sum(len([c for c in rs.split(",") if c]) for rs in read_schemas),
        "take_ordered": "TakeOrderedAndProject" in simple,
        "python_udf": "BatchEvalPython" in extended,
        "aqe": "AdaptiveSparkPlan" in simple,
    }


# Round-2 flagship operators audited alongside the bench set.
AUDIT_EXTRA = [
    "knn_pq_adc",
    "knn_ivf",
    "dedup_semantic_clusters",
    "pipeline_repetition_filter",
    "events_session_window_batch",
    "text_profile_by_source",
    "cdc_latest_state",
    "warehouse_incremental_agg_merge",
    "graph_triangle_count",
    "text_keyword_tfidf_topk",
    "events_promo_overlap_join",
    "pipeline_chunk_documents",
    "pipeline_global_shuffle",
    # Round-4 batch 2/3 operators.
    "pipeline_bloom_membership",
    "dedup_cdc_chunks",
    "text_lm_score",
    "text_trigram_novelty",
    "embedding_outlier_by_label",
    "text_bpe_apply",
    "pipeline_quality_percentile_by_source",
    # Round-4 batch 4/5 operators.
    "agg_histogram_equiwidth",
    "scalar_zorder_key",
    "pipeline_sample_exact_k",
    "stats_column_profile",
    "pipeline_integrity_audit",
    "embedding_random_projection",
    "agg_histogram_equidepth",
    "events_overlap_join_bucketed",
    "pipeline_weighted_sample",
    "pipeline_json_ingest_quarantine",
    "pipeline_csv_ingest_quarantine",
    "text_oov_rate",
    "stats_profile_drift",
    "knn_jl_rerank",
    # Round-6 operators.
    "multimodal_png_roundtrip",
    "multimodal_gif_roundtrip",
    "events_sessionization_capped",
    "events_sessionization_capped_segmented",
    "knn_quantized_int8",
    "warehouse_snapshot_diff",
    "graph_bfs_distances",
    "dedup_streaming_gate_batch",
    "events_funnel_stages",
    "stats_robust",
    "graph_degree_hubs",
    "text_bm25",
    "knn_lsh_bucketed",
    # Round-13/14 operators (the *_materialized one audits its from-raw
    # twin under plan_only()).
    "knn_ivf_pq",
    "knn_graph_ivf",
    "dedup_semantic_knn_graph_mutual",
    "dedup_semantic_semdedup_merged",
    "knn_ivf_pq_materialized",
    "pipeline_incremental_semantic_dedup",
    "retrieval_hybrid_rrf",
]


def audit_rows(spark, sf: str) -> list[str]:
    """PLANS.md table rows (one per audited query) built in plan-only mode:
    the *_materialized queries audit their from-raw twin (same oracle) and
    pay no store write."""
    from bench import BENCH_QUERIES
    from slr207_mapreduce_spark.plans.base import all_queries, plan_only

    specs = all_queries()
    rows = []
    for name in BENCH_QUERIES + AUDIT_EXTRA:
        with plan_only():
            a = audit(specs[name].build(spark, sf))
        rows.append(
            f"| {name} | {a['shuffles']} | {a['broadcasts']} | {a['scans']} | "
            f"{'yes' if a['pushed_any'] else '—'} | {a['read_cols']} | "
            f"{'yes' if a['take_ordered'] else '—'} | "
            f"{'LEAKED' if a['python_udf'] else 'none'} | "
            f"{'on' if a['aqe'] else 'OFF'} |"
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--write",
        action="store_true",
        help="rewrite PLANS.md (header + table) instead of stdout",
    )
    args = ap.parse_args()

    from slr207_mapreduce_spark.session import get_session

    spark = get_session(
        app_name="plan-audit",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = audit_rows(spark, args.sf)
    table = "\n".join([TABLE_HEAD, *rows])
    if args.write:
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write(f"{HEADER}\n{table}\n")
        print(f"PLANS.md rewritten ({len(rows)} queries)")
    else:
        print(table)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
