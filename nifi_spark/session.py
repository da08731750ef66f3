"""SparkSession construction with scale-aware defaults.

Local tests run on ``local[N]`` but every config choice is made for a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized to parallelism, Arrow
enabled for the pandas-UDF slow path, UTC session timezone so results
compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "nifi_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); on a real
    cluster the caller submits via spark-submit and ``master`` is simply
    not overridden (``spark.master`` already set -> respected).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TypedImperative aggregates (collect_list/collect_set — e.g. the
        # Defragment operator) run in ObjectHashAggregateExec, which silently
        # degrades to sort-based aggregation after 128 distinct groups per
        # partition. Raise the cliff to 2M groups/task but keep it finite:
        # the sort fallback is the spill path, and an unbounded map is an
        # OOM at 10^10-row scale. (max_by/min_by are declarative with a
        # struct buffer and always plan as SortAggregate — this knob does
        # not affect the LWW fold; see operators/ordering.py.)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
        # A join whose sides are already hash-partitioned on a subset of
        # its keys (e.g. on a bucket id that is a function of the key) is
        # co-partitioned: accepting that adds no exchange. Spark rejects
        # subset co-partitioning by default only as a skew heuristic.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INT96 (the legacy default) carries NO parquet min/max statistics,
        # which would blind LakeTable's file-skipping (file_stats) on every
        # timestamp column; Iceberg mandates int64 micros for the same
        # reason. Readers (Spark, DuckDB, pyarrow) handle both transparently.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Spark's generated-code cache (static, one per JVM) defaults to
        # 100 classes, but one process of this engine generates ~300
        # distinct ones: 297 for a gated merge stream (txn gate, quality
        # checks, near-dup index, MV), 308-323 for an append stream plus
        # its operator queries. At 100 the LRU evicts each plan's classes
        # before the next batch re-runs it, so a gated batch re-compiled
        # ~250 classes (Janino, then JIT) for as long as the stream ran.
        # At ~3x the measured set a steady gated batch compiles ~6 (its
        # per-batch literals), at the cost of 0.5-2.3% driver RSS
        # (BENCH/SCALING.md section A).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Only force a local master when none is configured (i.e. not under
    # spark-submit on a cluster).
    if "SPARK_GRAFT_MASTER" in os.environ:
        b = b.master(os.environ["SPARK_GRAFT_MASTER"])
    elif not os.environ.get("SPARK_MASTER") and not os.environ.get("MASTER"):
        b = b.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a frame made by ``localCheckpoint``. They belong
    to the RDD under the frame's LogicalRDD plan node; Spark has no public
    call for them, and without one they stay until the JVM collects that
    RDD."""
    df._jdf.logicalPlan().rdd().unpersist(False)
