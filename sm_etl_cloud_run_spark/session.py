"""SparkSession factory + session-level conventions.

The engine assumes a few session settings for determinism and oracle
parity (DuckDB comparisons) and applies them defensively at query time
too, because the verification driver may hand us a session it built
itself (see :func:`apply_session_conventions`).

Scale notes (100 TB target): the local defaults below (32 shuffle
partitions) are for `local[32]` testing; on a real cluster the same
code runs with `spark.sql.shuffle.partitions` sized to ~2-3× total
cores and AQE coalescing down small stages. Nothing in the engine
hard-codes partition counts on the data path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every query relies on. Applied at session build
# time (`getOrCreate` also applies them to a session that already
# exists) and again by `tables.load_tables`, since the driver may own
# the session.
_RUNTIME_CONVENTIONS = {
    # Reference semantics are pandas `errors="coerce"` (invalid → NULL),
    # not ANSI errors; Spark 4 defaults ANSI on, so switch it off.
    "spark.sql.ansi.enabled": "false",
    # DuckDB timestamps are UTC-naive; pin the session TZ so values match.
    "spark.sql.session.timeZone": "UTC",
    # MapType/ArrayType results and pandas interchange go through Arrow.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver testdata stores some timestamps as TIMESTAMP(NANOS),
    # which Spark's parquet reader rejects; read them as nano-longs and
    # convert in tables.load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r12 (guide §2.2): with the default (false), AQE partition
    # coalescing is DISABLED inside persisted plans — every shuffle
    # under a persist_tracked relation, and every consumer stage above
    # it, ran at the full `initialPartitionNum` ceiling (measured: a
    # 100k-row cached aggregate ran 256-task stages; with this flag its
    # stages coalesce to 32/1). Purely a physical-partitioning change:
    # results are unchanged (parity re-verified 0/277 at both SFs), and
    # the explicit-N `repartitionByRange(N, ...)` exchanges inside the
    # distributed_rank/cumsum family are user-specified counts, which
    # AQE never coalesces, so their partition-id arithmetic is intact.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # One open writer per task: a partitioned write (EP1's bronze) then
    # plans no per-task Sort, which would hold a whole decoded file before
    # writing its first row. An EP1 task holds one file; a task that
    # meets a second partition value falls back to sorting.
    "spark.sql.maxConcurrentOutputFileWriters": "1",
    # r12 negative result (guide §3.1, §9), recorded so it isn't re-tried
    # blindly: `spark.sql.join.preferSortMergeJoin=false` +
    # `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=128m`
    # (shuffled-hash instead of sort-merge for the census chain joins —
    # the registry's only SMJs) measured 4.9 → 3.1 s on COLD runs but a
    # consistent ~5% LOSS in the bench's hot-cache steady state (the
    # build-side hashing re-runs every pass, while SMJ reads the cached
    # sorted runs). On a real cluster with cold inputs the flags are
    # worth re-measuring; they are results-identical either way.
}


def apply_session_conventions(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conventions to an existing session."""
    for k, v in _RUNTIME_CONVENTIONS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment — keep going; queries that
            # depend on it are individually guarded.
            pass
    return spark


def get_spark(app_name: str = "sm_etl_cloud_run_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession, on ``$SPARK_GRAFT_CPUS``
    local cores (driver contract), or all of them when that is unset."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_parts = str(max(cpus, 32) if cpus else 32)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE picks the real partition count per stage by coalescing down
        # from this ceiling — so a 100×-bigger shuffle automatically gets
        # more partitions instead of spilling 32 oversized ones.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local[N] runs executors inside the driver JVM: size its heap
        # for N concurrent tasks (container has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static. When on, every Column/functions call walks the Python
        # stack and makes four extra JVM calls to record its call site
        # for error messages: 80% of the JVM calls that build
        # `transform_fact`'s plan (measured: 3,118 → 698 calls, 0.55 →
        # 0.19 s per PA build). Results are unchanged; only the
        # DataFrame query context of runtime errors is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONVENTIONS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# `suggest_shuffle_partitions`: the partition size it aims at, the share
# of input bytes it expects at the first shuffle, and its clamp
_TARGET_PARTITION_MB = 128
_SHUFFLE_RATIO = 0.5
_MIN_PARTITIONS = 8
_MAX_PARTITIONS = 20_000


def suggest_shuffle_partitions(df) -> int:
    """Data-derived `spark.sql.shuffle.partitions` for a job over `df`:
    estimated shuffle bytes / `_TARGET_PARTITION_MB`, clamped to
    [`_MIN_PARTITIONS`, `_MAX_PARTITIONS`].

    Input bytes come from the scan's actual files (`df.inputFiles`,
    compressed parquet); `_SHUFFLE_RATIO` approximates how much of the
    input survives to the first shuffle AFTER column pruning and
    predicate pushdown (0.5 is a safe default for analytic
    projections). With AQE on, this sets
    `initialPartitionNum`-scale headroom and AQE coalesces down — the
    sizing only needs the right order of magnitude, which is exactly
    what a fixed default (200) gets wrong at 100 TB: 500 GB/partition
    shuffles spill, while the same job at sf0.01 wastes 195 empty
    tasks. Returns a count; caller applies it via
    `spark.conf.set("spark.sql.shuffle.partitions", n)` before the
    action.
    """
    total = 0
    for f in df.inputFiles():
        path = f.removeprefix("file:")
        try:
            total += os.path.getsize(path)
        except OSError:
            continue
    est_shuffle = total * _SHUFFLE_RATIO
    n = int(est_shuffle // (_TARGET_PARTITION_MB * 1024 * 1024)) + 1
    return max(_MIN_PARTITIONS, min(n, _MAX_PARTITIONS))
