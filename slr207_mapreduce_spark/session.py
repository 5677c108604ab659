"""SparkSession factory with 100 TB-minded defaults.

The reference hand-rolls its runtime (SSH deploy, NIO sockets, sleeps —
/root/reference/deploy.sh:21-34, ListenerReducer.java:183-338). Spark
replaces all of that; what remains for us is config hygiene: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), sensible shuffle
parallelism, Arrow for any pandas exchange, and a fixed UTC session timezone
so timestamp semantics are reproducible against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_shuffle_partitions() -> str:
    """Initial shuffle partition count, scale-adaptive (r15, guide §2.2):
    max(local parallelism, 32), overridable via
    $SPARK_GRAFT_SHUFFLE_PARTITIONS. The old literal "32" was the local
    box's core count — right here, but a constant a 256-core cluster
    would silently under-partition with. Deriving from the session's core
    budget ($SPARK_GRAFT_CPUS, the driver convention, else os.cpu_count)
    keeps the local default — and hence the driver's bench — unchanged at
    32 while scaling initial parallelism with the deployment; AQE's
    advisoryPartitionSizeInBytes (64 MB) then coalesces small shuffles
    whatever the initial count, so the setting governs only the ceiling.
    On a real cluster, size it to 2-3× total cores or rely on the env
    override; partition BYTES (~64 MB-1 GB targets, guide §2.2) should
    drive the choice at 100 TB. A set but non-integer variable raises
    ``ValueError``; an unset or empty one falls back."""
    override = _int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if override is not None:
        return str(override)
    cores = _int_env("SPARK_GRAFT_CPUS")
    return str(max(32, cores if cores is not None else os.cpu_count() or 8))


def _int_env(name: str) -> int | None:
    """``$name`` as an int, None when unset or empty; a malformed value
    raises instead of silently selecting the fallback."""
    raw = os.environ.get(name)
    if not raw:
        return None
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"${name}={raw!r} is not an integer") from None


def _default_driver_memory() -> str:
    """Heap for the single local[N] JVM: min(24g, ~20% of detected RAM),
    floor 2g, overridable via $SPARK_GRAFT_DRIVER_MEM. A hardcoded 24g was
    tuned to one 128 GiB box and overcommitted smaller hosts (r06 ADVICE);
    on a real cluster spark-submit owns memory and this launch conf is
    ignored for an already-running JVM."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(2, min(24, int(total * 0.2 / (1 << 30))))}g"

# Defaults chosen for correctness-at-scale, not just local runs:
#  - AQE re-plans at shuffle boundaries (coalesces small partitions, splits
#    skewed ones, demotes sort-merge to broadcast when a side turns out small).
#  - advisoryPartitionSizeInBytes keeps post-shuffle partitions ~64 MB so a
#    1000-executor cluster neither starves (too few splits) nor drowns in
#    scheduling overhead (too many).
#  - Arrow on: every pandas_udf / toPandas crossing is columnar-batched.
SCALE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Scan-split floor: Spark's split size is min(maxPartitionBytes,
    # max(openCostInBytes, totalBytes/parallelism)), so the 4 MB default
    # open-cost floor caps a 10 MB table at ~3 scan tasks — a 1-file input
    # runs its scan+partial-agg stage nearly serial while 29 cores idle.
    # 512 KB reflects local/SSD + cloud-parquet open cost and lets small
    # inputs split down to per-core work; at 100 TB totalBytes/parallelism
    # >> open cost, so large-scale split planning is unchanged.
    "spark.sql.files.openCostInBytes": "524288",
    "spark.sql.parquet.filterPushdown": "true",
    # Tools print measurement JSON to stdout; the console progress bar
    # would interleave with it.
    "spark.ui.showConsoleProgress": "false",
    # spark.sql.shuffle.partitions is ENV-DEPENDENT and therefore resolved
    # per call in get_session() via _default_shuffle_partitions() —
    # baking it into this literal froze the env at import time, silently
    # ignoring SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_GRAFT_CPUS set
    # afterwards (r15 ADVICE item 4).
    "spark.sql.parquet.compression.codec": "zstd",
    # local[N] runs driver and executors in ONE JVM whose heap defaults to
    # 1g — on a 32-core/128 GiB box that heap is what OOMed the sf1
    # triangle-count edge materialization (concurrent broadcast builds
    # under STAGE_MATERIALIZATION). Derived from detected RAM (~20%,
    # capped at 24g) so smaller hosts don't overcommit.
    "spark.driver.memory": _default_driver_memory(),
    # columnar shuffle/storage stay default; whole-stage codegen is on by default
}


def get_session(
    app_name: str = "slr207-mapreduce-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver convention) or all cores. On a real
    cluster, pass ``master=None`` with a pre-set master URL via
    spark-submit — the defaults here are orthogonal to deployment.
    """
    # Resolve google.protobuf availability BEFORE the JVM launches: the
    # typed-state operator's Python workers inherit the driver JVM's env,
    # so a bundled runtime's shim PYTHONPATH entry must be exported now
    # (deferring to first typed-state use would be too late — the JVM env
    # is frozen at launch). What gets exported is a google/protobuf-only
    # shim that merges into any pre-existing PYTHONPATH (never the bundle
    # dir, never an overwrite — r07 ADVICE). SPARK_GRAFT_TYPED_STATE=0
    # skips the wiring entirely for deployments that never run typed state.
    conf = dict(SCALE_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = _default_shuffle_partitions()
    if extra_conf:
        conf.update(extra_conf)
    if os.environ.get("SPARK_GRAFT_TYPED_STATE", "1") != "0":
        from slr207_mapreduce_spark.internal import protobuf_compat

        protobuf_compat.ensure_protobuf()
        conf.update(
            protobuf_compat.worker_env(conf.get("spark.executorEnv.PYTHONPATH"))
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
