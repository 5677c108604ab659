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
    ``+`` is ``|``. Bits above ``bits`` are dropped, so callers bound wider
    inputs first: clamping with ``LEAST(GREATEST(x, 0), 2^bits - 1)`` is
    monotone and keeps neighbours adjacent on the curve, where wrapping
    aliases distant values into the same z-key."""
    terms = [
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
