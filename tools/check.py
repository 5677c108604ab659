"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle over the same
parquet tables, then compares: row count, schema (column names), and exact
(order-insensitive, column-name-sorted) values — strictly stronger than any
value-hash the driver computes.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    from slr207_mapreduce_spark.sources.tables import TABLES

    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize: sort columns by name, normalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(_norm_cell)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _norm_cell(v):
    import datetime
    import decimal

    import numpy as np

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date, pd.Timestamp)):
        return str(pd.Timestamp(v).floor("us"))
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _dtype_kind(dtype) -> str:
    """Canonical dtype class: int width matters (the driver may compare
    schemas), datetime unit and tz do not, decimals count as float."""
    s = str(dtype)
    if s.startswith("datetime64"):
        return "datetime"
    if s in ("object",):
        return "object"
    return s


def comparator_unsafe_cols(pdf: pd.DataFrame) -> dict[str, str]:
    """column -> reason, for anything the driver's comparator could choke on.

    The driver canonicalizes with a raw ``DataFrame.sort_values`` over the
    untouched cells and value-hashes them, so beyond the known
    ``unhashable type: list`` crash (CORRECTNESS_r01: agg_collect_sorted)
    several cell shapes are unsafe even when values match the oracle:

    - list/ndarray/dict/set cells: unhashable -> sort_values TypeError
    - struct cells (pyspark Row / tuple): Spark yields Row, DuckDB yields
      dict — never comparable cross-engine, and dicts are unhashable
    - bytes/bytearray/memoryview: DuckDB round-trips BLOBs differently and
      a bytes-vs-str hash can never match
    - decimal.Decimal: hashes/compares differently from the float the
      oracle side typically produces (exactness must be achieved WITH
      decimal arithmetic but OUTPUT as double — functions/portable.py)
    - mixed-type object columns (e.g. str and float cells in one column):
      Python 3 comparisons across types raise inside sort_values

    Every oracled query must emit scalar, single-typed cells; this keeps the
    local gate strictly stronger than the driver's."""
    import decimal

    import numpy as np

    unsafe = {}
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype != object:
            continue
        types = set()
        for v in s:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                continue
            if isinstance(v, (list, np.ndarray, dict, set)):
                unsafe[c] = f"unhashable {type(v).__name__} cell"
                break
            if isinstance(v, tuple):  # includes pyspark.sql.Row
                unsafe[c] = f"struct cell ({type(v).__name__})"
                break
            if isinstance(v, (bytes, bytearray, memoryview)):
                unsafe[c] = "binary cell"
                break
            if isinstance(v, decimal.Decimal):
                unsafe[c] = "Decimal cell (emit double via portable helpers)"
                break
            types.add(type(v).__name__)
        else:
            # numeric mixes (int/float/bool) sort and compare fine; any
            # other cross-type mix raises inside sort_values
            if len(types) > 1 and not types <= {"int", "float", "bool"}:
                unsafe[c] = f"mixed-type cells {sorted(types)}"
    return unsafe


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    for side, pdf in (("spark", spark_pdf), ("duck", duck_pdf)):
        bad = comparator_unsafe_cols(pdf)
        if bad:
            problems.append(
                f"{side} output not comparator-safe: {bad} — the driver's "
                "raw sort_values/value-hash canonicalization chokes on these; "
                "serialize to scalar (array_join / array_to_string / cast)"
            )
    if problems:
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    for c in sc:
        ks, kd = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(duck_pdf[c].dtype)
        if ks != kd:
            problems.append(f"dtype {c}: spark={ks} duck={kd}")
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    problems.append(
                        f"col {c} row {i}: spark={x!r} duck={y!r} (Δ={x - y!r})"
                    )
                    break
            elif x != y:
                problems.append(f"col {c} row {i}: spark={x!r} duck={y!r}")
                break
    return problems


def check_one(spec, spark, sf_dir: str) -> tuple[str, str]:
    """(status_line, verdict) for one spec; verdict in {pass, ok?, fail}.

    Thread-safe by construction: SparkSession job submission is thread-safe
    (concurrent actions just become concurrent Spark jobs), and DuckDB gets
    a fresh in-process connection per call (view setup over parquet is
    ~ms; sharing one connection across threads is NOT safe)."""
    name = spec.name
    t0 = time.time()
    try:
        spark_pdf = spec.build(spark, sf_dir).toPandas()
    except Exception as e:
        return f"FAIL {name}: spark error: {e}", "fail"
    if spec.oracle is None:
        # the driver still materializes rows-only outputs — keep them
        # comparator-safe too so its canonicalization can't crash
        bad = comparator_unsafe_cols(spark_pdf)
        if bad:
            return f"FAIL {name}: rows-only output not comparator-safe: {bad}", "fail"
        return (
            f"ok?  {name}: rows-only ({len(spark_pdf)} rows, no oracle) "
            f"[{time.time()-t0:.1f}s]",
            "ok?",
        )
    con = duck_con(sf_dir)
    try:
        duck_pdf = con.execute(spec.oracle).df()
    except Exception as e:
        return f"FAIL {name}: duckdb error: {e}", "fail"
    finally:
        con.close()
    problems = compare(spark_pdf, duck_pdf)
    if problems:
        return f"FAIL {name}: " + "; ".join(problems[:4]), "fail"
    return f"PASS {name} ({len(spark_pdf)} rows) [{time.time()-t0:.1f}s]", "pass"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--workers",
        type=int,
        default=int(os.environ.get("CHECK_WORKERS", "6")),
        help="concurrent query checks (1 = serial). The gate is dominated by "
        "per-query driver/planning latency, not CPU, so overlapping queries "
        "in threads against the one shared SparkSession cuts wall-clock "
        "~3-4x; Spark schedules the concurrent jobs across its cores.",
    )
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (no engine defaults) — replicates the "
        "DRIVER's environment, which does not call our session factory; "
        "catches any query that silently depends on get_session()-only "
        "configs (AQE settings, shuffle partitions, Arrow, timezone)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from concurrent.futures import ThreadPoolExecutor

    from slr207_mapreduce_spark.plans.base import all_queries

    specs = all_queries()
    names = args.names or sorted(specs)
    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-vanilla")
            .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
            # the threaded gate runs several queries' broadcast builds
            # concurrently in one JVM; the 1g default heap OOMs at sf0.1
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
    else:
        from slr207_mapreduce_spark.session import get_session

        spark = get_session(
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
            # see vanilla branch: concurrent broadcast builds need heap
            extra_conf={"spark.driver.memory": "8g"},
        )

    failed = []
    if args.workers <= 1:
        results = (check_one(specs[n], spark, args.sf) for n in names)
        for line, verdict in results:
            print(line, flush=True)
            if verdict == "fail":
                failed.append(line)
    else:
        with ThreadPoolExecutor(max_workers=args.workers) as pool:
            futs = [pool.submit(check_one, specs[n], spark, args.sf) for n in names]
            for fut in futs:  # original order, but execution overlaps
                line, verdict = fut.result()
                print(line, flush=True)
                if verdict == "fail":
                    failed.append(line)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
