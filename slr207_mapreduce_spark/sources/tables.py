"""Canonical table loaders.

Scan operators (reference O1-O4, SURVEY.md §2): the reference splits a text
file into 1 KB line-aligned chunks and round-robins them to workers
(/root/reference/SimpleClient.java:100-149,249-270). Spark's
FileSourceScanExec does the same split planning automatically
(spark.sql.files.maxPartitionBytes), with locality, column pruning and
predicate pushdown on top — so "load a table" is one declarative call and
the physical scan strategy is Catalyst's business.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

# Per-session DataFrame handle cache. A DataFrame is an immutable logical
# plan, so re-serving the same object for the same (session, file) is
# semantically transparent — but it skips the parquet footer/schema read and
# the py4j plan construction that a fresh spark.read.parquet pays (~20-50 ms
# per table, ~40% of multi-table query BUILD latency; execution is
# unaffected). Keyed weakly by session so a stopped session's handles die
# with it. Note the scan's file listing is snapshotted at first load — the
# right trade for immutable corpus directories (this repo's contract);
# callers that overwrite a path in place should read it directly.
_TABLE_CACHE: "WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    WeakKeyDictionary()
)

# The driver-generated star schema + pipeline tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_utc(spark: SparkSession) -> None:
    # Timestamps in the testdata are timezone-naive parquet values; pin the
    # session to UTC so Spark and the DuckDB oracle agree bit-for-bit on
    # every timestamp comparison and truncation.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one canonical table as a DataFrame (parquet scan, pushdown-ready).

    The ``events`` table's ``ts`` has shipped in two physical forms:
    parquet TIMESTAMP(NANOS) (read as long via the legacy conf, truncated to
    µs with integer division — ns values ~1.7e18 exceed double's exact
    range) and plain TIMESTAMP(MICROS) without a timezone flag, which
    Spark 4 infers as TIMESTAMP_NTZ (parquet.inferTimestampNTZ). Every
    time-arithmetic builder (unix_micros, window(), watermarks) needs the
    session-zone TIMESTAMP type, so both forms are normalized to LTZ here;
    with the session pinned to UTC the NTZ→LTZ cast is value-identical to
    DuckDB's naive-timestamp reading.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        cache = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session type without weakref support
        cache = None
    if cache is not None and path in cache:
        # Re-pin on every hit: the session zone is mutable config, and a
        # caller (or another library) may have changed it since the handle
        # was built — the cached plan's NTZ→LTZ casts assume UTC.
        _pin_utc(spark)
        return cache[path]
    _pin_utc(spark)
    df = _read_table(spark, name, path)
    if cache is not None:
        cache[path] = df
    try:
        _HANDLE_PATHS[df] = path
    except TypeError:  # DataFrame type without weakref support
        pass
    return df


def _read_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


# Reverse map: unmodified load_table handle -> its parquet path. Keyed
# weakly by the DataFrame object itself, so ONLY the exact cached handle
# (not a filter/select derived from it) resolves — the gate behind
# metadata_row_count's operator contract.
_HANDLE_PATHS: "WeakKeyDictionary[DataFrame, str]" = WeakKeyDictionary()
# Footer-derived row counts per path (scan METADATA, not query results —
# same immutable-corpus contract as _TABLE_CACHE's snapshotted listing).
_META_COUNTS: dict[str, int] = {}


def metadata_row_count(df: DataFrame) -> int | None:
    """Exact row count from parquet footers for an UNMODIFIED
    :func:`load_table` handle; ``None`` for any other DataFrame.

    Operator contract (r15 VERDICT item 4, guide §1 "driver-side work"):
    the auto-dial sites (LSH table budget, IVF centroid/probe dials, PQ
    rerank) need ``corpus.count()`` only to pick an integer budget, and
    when the corpus is a raw table handle that count equals the sum of
    the parquet footers' num_rows — readable driver-side in milliseconds
    instead of a full Spark job per build. A filtered/projected input
    deliberately resolves to None (row count is data-dependent there) so
    callers fall back to ``df.count()`` — semantics never change, only
    the job floor for the raw-handle case. Counts are cached per path
    under the same immutable-corpus contract as the handle cache; a
    caller that overwrites a path in place should read it directly."""
    try:
        path = _HANDLE_PATHS.get(df)
    except TypeError:
        return None
    if path is None:
        return None
    if path not in _META_COUNTS:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for name in sorted(os.listdir(path)):
                if name.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(path, name)).num_rows
        else:
            total = pq.read_metadata(path).num_rows
        _META_COUNTS[path] = int(total)
    return _META_COUNTS[path]


# Per-session registry of created temp-view names (see table_view).
_VIEW_CACHE: "WeakKeyDictionary[SparkSession, set[str]]" = WeakKeyDictionary()


def table_view(spark: SparkSession, name: str, sf_dir: str | None = None) -> str:
    """A session temp view over :func:`load_table`, cached per
    (session, path); returns the view name.

    Build-latency primitive (r15, guide §1 "driver-side work"): every
    DataFrame transformation is EAGERLY analyzed, so a builder chaining
    filter→join→groupBy→select→orderBy pays five full analyzer passes
    over a growing plan — measured 0.48 s of the 0.77 s q1 wall at sf0.1
    (build latency is 30-50% of a small-SF bench run; execution is
    unaffected). A single ``spark.sql(text)`` over these views pays ONE
    parse+analysis pass — measured 3.3× less build latency on the q1
    shape — while resolving to the SAME cached scan relation as
    load_table (pushdown, pruning, exchange reuse identical; a bare
    ``parquet.`path``` reference would instead re-list and re-infer the
    file per call, ~0.2 s). The view name embeds a hash of the data path
    so one session can hold several scale factors side by side (the test
    suite does); creation happens once per (session, path)."""
    import hashlib

    df = load_table(spark, name, sf_dir)  # pins UTC + caches the handle
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    view = f"v_{name}_{hashlib.md5(path.encode()).hexdigest()[:8]}"
    try:
        created = _VIEW_CACHE.setdefault(spark, set())
    except TypeError:  # session type without weakref support
        created = None
    if created is None or view not in created:
        df.createOrReplaceTempView(view)
        if created is not None:
            created.add(view)
    return view


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several tables; also registers each as a temp view so the same
    query set can be expressed via ``spark.sql``."""
    out = {}
    for name in names:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan — reference O1 (SimpleClient.java:116-143):
    one row per line, column ``value: string``. Input splitting (reference
    O2/O3) is automatic via maxPartitionBytes."""
    _pin_utc(spark)
    return spark.read.text(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    _pin_utc(spark)
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    _pin_utc(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
