"""Multi-table CDC fan-out: one binlog stream applied to N lake tables.

A real binlog/WAL carries every table's changes interleaved in one
totally-ordered log. The reference tails it once and fans out by table
name — CaptureChangeMySQL stamps each event with ``cdc.table.name``
(nifi-cdc .../io/AbstractBinlogTableEventWriter.java:40-47), then
RouteOnAttribute + one PutDatabaseRecord per table apply each slice.

:class:`MultiTableCdcPipeline` is that flow as ONE Structured Streaming
job: a single ``readStream`` (one source, one offset checkpoint, one
totally-ordered batch id sequence) whose ``foreachBatch`` caches the
parsed micro-batch once and routes it to one :class:`CdcPipeline`
per table. Design points that matter at scale:

- **Exactly-once across N sinks without a cross-table transaction.**
  Each sub-pipeline's LakeTable commit is idempotent on the shared
  ``batch_id`` (the replay pre-check in ``apply_batch``). If the driver
  dies after table A committed batch 7 but before table B, the replay
  re-offers 7 to both: A short-circuits, B commits — no duplicates, no
  gaps, the same per-sink-idempotency contract Spark's own multi-sink
  guidance relies on.
- **One scan per batch.** The batch is persisted before routing; each
  table's filter reads the in-memory batch, so N tables cost one source
  scan + N cheap cached filters, not N scans. A one-job routing
  aggregate (per-table row counts) lets empty tables skip their apply
  entirely — with hundreds of tables, most are idle on most batches and
  the fixed cost stays proportional to ACTIVE tables.
- **Cross-table transactions.** In ``txn_consistent`` mode a BEGIN/
  COMMIT pair can span tables (one upstream transaction touching
  several). Commit markers are key-less and table-less, so the router
  replicates them to EVERY table's gate: each table admits its own
  slice of the transaction exactly when the shared commit marker
  arrives, and a transaction whose commit never lands is admitted
  nowhere — per-table atomicity of a cross-table transaction.
- **Unrouted events** (a table name with no configured sink) land in a
  dead-letter parquet under the checkpoint (≙ RouteOnAttribute's
  unmatched relationship), one ``unrouted/batch_id=N`` directory per
  batch that a replay overwrites — never silently dropped, never
  duplicated, never poisoning a sink.
- **Per-table state isolation.** Each sub-pipeline owns a checkpoint
  subdirectory (txn pending store, quality verdicts) and its table's
  head manifest carries its watermark, so table-level replays,
  late-event cutoffs, and open-transaction carryover never interact
  across tables.

``parallel=True`` applies the per-table batches from a thread pool —
the jobs are independent (distinct tables, distinct state dirs), so the
scheduler interleaves them and small per-table batches amortize the
driver round-trips. Default is sequential (deterministic log order,
simpler failure attribution); both modes fail the micro-batch on the
first table error, and the replay is idempotent for tables that already
committed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import join as fsio_join
from ..schema import CHANGE_EVENTS, CHANGE_EVENTS_TXN
from .job import CdcPipeline, build_parse_exprs, start_stream


class MultiTableCdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, str],
        checkpoint_dir: str,
        table_col: str = "table_name",
        parallel: bool = False,
        **pipeline_kwargs,
    ):
        """``tables`` maps table name (the routing value in ``table_col``)
        to its lake-table path. ``pipeline_kwargs`` are forwarded to every
        per-table :class:`CdcPipeline` (n_buckets, sink_mode,
        txn_consistent, watermark_delay_s, …)."""
        if not tables:
            raise ValueError("tables must map at least one name to a path")
        self.spark = spark
        self.table_col = table_col
        self.checkpoint_dir = checkpoint_dir
        self.parallel = parallel
        self.txn_consistent = bool(pipeline_kwargs.get("txn_consistent"))
        self.from_json_payload = bool(pipeline_kwargs.get("from_json_payload"))
        self.pipes: dict[str, CdcPipeline] = {
            name: CdcPipeline(
                spark,
                path,
                fsio_join(checkpoint_dir, "tables", name),
                **pipeline_kwargs,
            )
            for name, path in tables.items()
        }
        self.unrouted_dir = fsio_join(checkpoint_dir, "unrouted")
        # markers are key-less control rows shared by every table's gate;
        # DDL and data rows route by table name
        self._is_marker = F.col("op").isin("C", "B")
        keep = ["source_file", "source_pos", "payload_json", table_col]
        if self.txn_consistent:
            keep.append("txn_id")
        self._parse_cols, self._norm_cols = build_parse_exprs(keep)
        any_pipe = next(iter(self.pipes.values()))
        self._bad_cond = any_pipe._bad_cond

    # ---------- batch fan-out (the foreachBatch body) ----------

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Route one micro-batch to every table's ``apply_batch``.

        Driver-action budget: one cached routing aggregate (per-table
        row/marker counts — also the unrouted count), then each ACTIVE
        table's own apply (one Spark job in append mode, two in merge
        mode — see CdcPipeline.apply_batch). Tables with zero data rows this batch
        are skipped entirely, except in txn mode when commit markers
        exist — a marker may commit a transaction a table has carried
        pending since an earlier batch, so every table's gate must see
        it."""
        cached = batch_df.persist()
        try:
            routed = F.col(self.table_col)
            counts = {
                r["t"]: (int(r["n"]), int(r["m"]))
                for r in cached.groupBy(routed.alias("t"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum(self._is_marker.cast("long")).alias("m"),
                )
                .collect()
            }
            n_markers = sum(m for _, m in counts.values())
            n_unrouted = sum(
                n - m for t, (n, m) in counts.items() if t not in self.pipes
            )
            if n_unrouted:
                (
                    cached.filter(
                        (~routed.isin(*self.pipes) | routed.isNull())
                        & ~self._is_marker
                    )
                    .withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .parquet(fsio_join(self.unrouted_dir, f"batch_id={batch_id}"))
                )

            def _route(name: str) -> DataFrame:
                cond = routed == name
                if self.txn_consistent:
                    cond = cond | self._is_marker
                return cached.filter(cond).drop(self.table_col)

            active = [
                name
                for name in self.pipes
                if counts.get(name, (0, 0))[0] > 0
                or (self.txn_consistent and n_markers > 0)
            ]
            per_table: dict[str, dict] = {}
            if self.parallel and len(active) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(8, len(active))) as ex:
                    futs = {
                        name: ex.submit(
                            self.pipes[name].apply_batch, _route(name), batch_id
                        )
                        for name in active
                    }
                    per_table = {name: f.result() for name, f in futs.items()}
            else:
                for name in active:
                    per_table[name] = self.pipes[name].apply_batch(
                        _route(name), batch_id
                    )
            return {
                "batch_id": batch_id,
                "n_unrouted": n_unrouted,
                "per_table": per_table,
            }
        finally:
            cached.unpersist()

    # ---------- streaming ----------

    def start(
        self,
        feed_dir: str,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """One readStream over the shared feed; same trigger contract as
        :meth:`CdcPipeline.start`. The feed schema is the single-table
        change-event schema plus the ``table_col`` routing column."""
        from pyspark.sql import types as T

        base = CHANGE_EVENTS_TXN if self.txn_consistent else CHANGE_EVENTS
        feed_schema = T.StructType(
            list(base.fields) + [T.StructField(self.table_col, T.StringType(), True)]
        )
        # the routing column rides through as metadata; each table's
        # apply_batch adds its own per-batch _late
        return start_stream(
            self, feed_schema, feed_dir, max_files_per_trigger, available_now,
            processing_time,
        )

    def run_to_completion(self, feed_dir: str, **kw) -> None:
        q = self.start(feed_dir, **kw)
        q.awaitTermination()
