"""Per-partition lineage records — the queryable subset of NiFi provenance.

The reference journals a provenance event per FlowFile hop (RECEIVE, SEND,
DROP, … — nifi-api .../provenance/ProvenanceEventRecord.java:41-161,
ProvenanceEventType.java:22-132) into a Lucene-indexed store. At 10^10
events per-row provenance is the wrong shape; the north star reduces it to
**per-(batch, source_file) offset-range records** persisted next to the
table: enough to audit "which binlog byte ranges landed in which snapshot,
how many rows, how many late" and to prove no-gap/no-dup on resume.

Records append to ``{table}/_lineage/`` as parquet; each batch's write is
one small file (a handful of rows — one per source file seen in the batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import LINEAGE


def write_lineage_rows(spark: SparkSession, rows: list[dict], table_path: str) -> None:
    """Append pre-aggregated lineage rows (a handful per batch, already on
    the driver — the streaming pipeline derives them from the same
    aggregation that computes its batch metrics).

    Local table paths write directly via pyarrow — a per-batch lineage
    record must not cost a Spark job (at thousands of micro-batches that
    job IS the fixed cost); remote schemes fall back to a one-task Spark
    write. Both produce files spark.read.parquet reads uniformly.
    """
    if not rows:
        return
    from .fsio import join

    out_dir = join(table_path, "_lineage")
    if "://" not in table_path:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_schema = pa.schema(
            [
                (f.name, pa.int64() if f.dataType.typeName() == "long" else pa.string())
                for f in LINEAGE.fields
            ]
        )
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=pa_schema),
            os.path.join(out_dir, f"part-{uuid.uuid4().hex}.parquet"),
        )
    else:
        spark.createDataFrame(rows, LINEAGE).coalesce(1).write.mode("append").parquet(
            out_dir
        )


def read_lineage(spark: SparkSession, table_path: str) -> DataFrame:
    from .fsio import FsIO, join

    p = join(table_path, "_lineage")
    # FsIO, not os.path.isdir: a file:// / hdfs:// / s3a:// table path is
    # never a local dir, and `lineage_audit` over a remote table would
    # otherwise silently report "clean" on an empty frame.
    if not FsIO(spark, table_path).exists(p):
        return spark.createDataFrame([], LINEAGE)
    return spark.read.parquet(p)


def lineage_audit(
    spark: SparkSession, table_path: str, txn_mode: bool = False
) -> DataFrame:
    """Audit the lineage log for the north star's resume guarantee: no
    duplicates, no gaps (≙ querying NiFi's provenance repository for
    missing/duplicated event ranges).

    Returns violation rows (empty = clean):

    - ``pos_gap``     — within a source file, a batch's ``min_pos`` skips
      past the previous batch's ``max_pos`` + 1 (events lost);
    - ``pos_overlap`` — it starts at or before the previous ``max_pos``
      (events applied twice);
    - ``dup_batch_file`` — the same (batch_id, source_file) recorded more
      than once (a replay that reapplied instead of short-circuiting).

    Event-time/seq disorder ACROSS files is legitimate (the LWW fold
    absorbs it), so no cross-file seq monotonicity is asserted. One
    window/aggregation pass per check — scales as a sort within
    source_file partitions.

    ``txn_mode``: lineage records offsets at APPLY time, and a
    transaction-consistent pipeline (CdcPipeline ``txn_consistent``)
    legitimately applies a held-back transaction's events in a LATER
    batch than the rest of its source file — an enclave inside an
    earlier batch's [min_pos, max_pos] span. That is re-ordered
    application, not double application, so the position-contiguity
    checks don't apply; only ``dup_batch_file`` (true replay) remains
    meaningful. Set txn_mode=True for such pipelines.
    """
    from pyspark.sql import Window as W

    lin = read_lineage(spark, table_path)
    if txn_mode:
        return (
            lin.groupBy("batch_id", "source_file")
            .agg(
                F.count("*").alias("_n"),
                F.min("min_pos").alias("min_pos"),
                F.max("max_pos").alias("max_pos"),
            )
            .filter(F.col("_n") > 1)
            .select(
                "batch_id", "source_file", "min_pos", "max_pos",
                F.lit("dup_batch_file").alias("violation"),
            )
        )
    by_file = W.partitionBy("source_file").orderBy("min_pos", "batch_id")
    pos = (
        lin.withColumn("_prev_max", F.lag("max_pos").over(by_file))
        .withColumn(
            "violation",
            F.when(F.col("_prev_max").isNull(), None)
            .when(F.col("min_pos") > F.col("_prev_max") + 1, F.lit("pos_gap"))
            .when(F.col("min_pos") <= F.col("_prev_max"), F.lit("pos_overlap")),
        )
        .filter(F.col("violation").isNotNull())
    )
    dups = (
        lin.groupBy("batch_id", "source_file")
        .agg(
            F.count("*").alias("_n"),
            F.min("min_pos").alias("min_pos"),
            F.max("max_pos").alias("max_pos"),
        )
        .filter(F.col("_n") > 1)
        .select(
            "batch_id", "source_file", "min_pos", "max_pos",
            F.lit("dup_batch_file").alias("violation"),
        )
    )
    return pos.select(
        "batch_id", "source_file", "min_pos", "max_pos", "violation"
    ).unionByName(dups)
