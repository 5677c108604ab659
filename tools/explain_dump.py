"""Dump .explain("formatted") for a set of registered queries to files.

Optimization-round deliverable (r15): the judge checks plan claims in
OPTIMIZATION_r*.md against committed plans/r*/<query>_{before,after}.txt.
This tool writes one file per query with the formatted physical plan,
built under plan_only mode so registry enumeration performs no staging
writes (base.plan_only, r14 VERDICT item 7).

Usage:
    python tools/explain_dump.py --out plans/r15 --suffix before \
        [--sf /root/testdata/sf0.1] [query ...]

With no query names, dumps bench.py's headline set plus every set in its
TIERS table, each against the data directory bench.py times it on.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted_plan(df) -> str:
    jvm = df._sc._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "r15"))
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from bench import BENCH_QUERIES, TIERS
    from slr207_mapreduce_spark.plans.base import all_queries, plan_only
    from slr207_mapreduce_spark.session import get_session

    spark = get_session(app_name="explain-dump", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    # (query, sf_dir) pairs: explicit names use --sf; the default set is
    # bench.py's, each tier against the directory it is timed on.
    if args.queries:
        work = [(q, args.sf) for q in args.queries]
    else:
        work = [(q, args.sf) for q in BENCH_QUERIES]
        for tier, (data_dir, _runs, queries) in TIERS.items():
            try:
                tier_dir = data_dir(args.sf)
            except Exception as e:  # tiers are optional for a plan dump
                print(f"{tier} data unavailable: {e}", file=sys.stderr)
                continue
            work += [(q, tier_dir) for q in queries]

    os.makedirs(args.out, exist_ok=True)
    seen: set[str] = set()
    for name, sf_dir in work:
        if name in seen:
            continue
        seen.add(name)
        with plan_only():
            df = specs[name].build(spark, sf_dir)
            text = formatted_plan(df)
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(f"-- {name} @ {sf_dir} ({args.suffix})\n")
            f.write(text)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
