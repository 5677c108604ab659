"""Sinks (reference O13/O14 generalized — SURVEY.md §2).

The reference's only working sink is per-worker stdout
(/root/reference/WorkerSender.java:290-296); the intended global sink is
dead code (SimpleClient.java:286-399). Here: real writers. Parquet+zstd is
the default at scale; partitionBy for layout control; CSV/JSON for interop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
    **options: str,
) -> None:
    """Write a DataFrame.

    ``partition_by`` → directory-partitioned layout (enables partition
    pruning on read). ``bucket_by=(n, cols)`` → bucketed table (co-located
    joins without a shuffle); requires ``table_name`` (saveAsTable), since
    bucketing metadata lives in the catalog.
    """
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketed writes need table_name (catalog-backed)")
        writer.bucketBy(n, *cols).sortBy(*cols).saveAsTable(table_name)
        return
    writer.save(path)


def zorder_expr(a: str, b: str, bits: int = 10) -> str:
    """Morton interleave of the low ``bits`` bits of ``a`` (even lanes) and
    ``b`` (odd lanes) as one shared SQL text: Spark SQL and DuckDB parse
    `>> << & %` identically, and the summed terms occupy disjoint bits so
    ``+`` is ``|``."""
    terms = [
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def write_zordered(
    df: DataFrame,
    path: str,
    dim_a: str,
    dim_b: str,
    n_files: int = 64,
    bits: int = 10,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on the Z-order (Morton) curve of two bounded
    dimension columns — the multi-dimensional analogue of a sorted write
    (Delta/Iceberg OPTIMIZE ZORDER).

    ``repartitionByRange`` on the interleaved key + in-partition sort makes
    every output file's min/max stats tight in BOTH dimensions, so range
    predicates on EITHER column prune files/row-groups at scan time —
    tests/test_layout_runtime.py measures the span contrast against a
    linear sort. Out-of-range dimension values are CLAMPED to
    [0, 2^bits - 1] — clamping is monotone, so a too-wide value lands in
    the boundary cell next to its neighbors instead of wrapping around the
    curve and aliasing distant values into the same z-key (which silently
    destroyed pruning). Callers with wider domains should pre-bucket, e.g.
    ``F.floor(col / width)``. The helper column is dropped before writing.
    """
    from pyspark.sql import functions as F

    hi = (1 << bits) - 1
    zk = zorder_expr(
        f"LEAST(GREATEST({dim_a}, 0), {hi})",
        f"LEAST(GREATEST({dim_b}, 0), {hi})",
        bits=bits,
    )
    (
        df.withColumn("__zkey", F.expr(zk))
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )
