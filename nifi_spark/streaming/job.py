"""The CDC north-star pipeline: change feed → LWW fold → lake MERGE.

Spark restatement of the reference flow
``CaptureChangeMySQL → EnforceOrder → PutDatabaseRecord/PutIceberg``
(SURVEY.md §3.2):

- **source** — ``readStream`` over the feed directory (parquet/json files ≙
  binlog segments). Spark's file source checkpoints which files were seen
  (≙ CaptureChangeMySQL's binlog file/pos cluster state,
  reference CaptureChangeMySQL.java:1189-1213 updateState); restart resumes
  with no re-read.
- **watermark** — the engine tracks ``max(ts) - delay`` across batches;
  the running event-time max rides each batch's sink commit
  (``summary.max_ts_epoch`` in the table's head manifest, carried forward
  by maintenance commits), so it can never disagree with the committed
  data. Events older than the watermark route to the late count
  (≙ EnforceOrder wait-timeout → ``skipped``, reference
  EnforceOrder.java:205) and are excluded from the merge.
- **fold** — last-writer-wins per ``(conv_id, turn_idx)`` by ``seq``,
  keeping delete-winners as tombstones: the sink's one fold kernel
  (``LakeTable._fold``) in the bucket rewrite of a merge or compaction and
  in the merge-on-read ``read``; with ``salt_buckets > 1`` the batch is
  first pre-folded by the salted two-phase fold (operators.ordering), the
  hot-key defence.
- **apply** — ``foreachBatch``: ``LakeTable.merge_events`` (copy-on-write)
  or ``LakeTable.append_events`` (merge-on-read) with the streaming
  ``batch_id`` as the idempotent commit id. Spark may re-run a batch after
  a sink success but before the checkpoint commit; the sink skips
  already-applied ids, which upgrades at-least-once replay to exactly-once
  table state (≙ PutIceberg snapshot-summary uuid check,
  reference PutIceberg.java:89-93,392-399).
- **lineage** — per-(batch, source_file) offset-range records appended
  under the table (lineage.py).

Every stage is DataFrame-native; the only Python in the data path is the
optional Arrow normalization for raw-JSON feeds.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..fsio import FsIO
from ..fsio import join as fsio_join
from ..normalize import _EVENT_JSON_SCHEMA
from ..operators.ordering import lww_fold_salted
from ..schema import CHANGE_EVENTS, KEY_COLS
from ..sinks.laketable import LakeTable
from ..lineage import write_lineage_rows


class QualityGateError(RuntimeError):
    """A micro-batch failed its declared data-quality checks under
    ``quality_action="halt"`` — raised BEFORE the sink commit, so the
    batch applies nothing and a replay re-evaluates the gate."""


@contextlib.contextmanager
def _in_background(fn):
    """Run ``fn()`` on a daemon thread while the ``with`` body runs; on
    exit, wait for it and raise its error — unless the body raised, whose
    error is the one to keep. The thread inherits the caller's Spark
    local properties, so its jobs carry the batch's job group and
    description."""
    err: list[BaseException] = []

    def run() -> None:
        try:
            fn()
        except BaseException as e:  # re-raised in the caller's thread
            err.append(e)

    t = InheritableThread(run, daemon=True)
    t.start()
    try:
        yield
    finally:
        t.join()
    if err:
        raise err[0]


def build_parse_exprs(keep: list[str]) -> tuple[list, list]:
    """(parse_cols, norm_cols) for the JSON-payload envelope: from_json →
    typed event columns, carrying ``keep`` metadata columns (source
    coordinates, txn id, a table-routing column, …) through unchanged.
    Built once per pipeline and reused every micro-batch — Columns are
    immutable expression trees, so this removes ~25 Py4J round-trips per
    batch of pure driver-side plan construction."""
    parse_cols = [
        F.from_json(F.col("payload_json"), _EVENT_JSON_SCHEMA).alias("e"),
        *[F.col(c) for c in keep],
    ]
    norm_cols = [
        F.col("e.seq").alias("seq"),
        F.col("e.type").alias("op"),
        F.col("e.timestamp").alias("ts"),
        F.col("e.conv_id").alias("conv_id"),
        F.col("e.turn_idx").alias("turn_idx"),
        F.col("e.role").alias("role"),
        F.col("e.text").alias("text"),
        F.col("e.tool").alias("tool"),
        F.col("e.tool_meta").alias("tool_meta"),
        *[F.col(c) for c in keep],
    ]
    return parse_cols, norm_cols


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        checkpoint_dir: str,
        n_buckets: int = 16,
        salt_buckets: int = 0,
        watermark_delay_s: int | None = None,
        from_json_payload: bool = False,
        sink_mode: str = "merge",
        compact_every: int = 16,
        txn_consistent: bool = False,
        txn_marker_keep: int = 8,
        txn_abandon_after_batches: int | None = None,
        expire_every: int = 0,
        expire_keep_n: int = 64,
        mv_path: str | None = None,
        mv_refresh_every: int = 1,
        mv_key_cols: list[str] | None = None,
        mv_agg_fn=None,
        stats_cols: list[str] | None = None,
        quality_checks: list[dict] | None = None,
        quality_action: str = "record",
        near_dup_index: str | None = None,
        index_compact_every: int = 0,
        near_dup_threshold: float = 0.5,
    ):
        """``txn_consistent``: the feed is transaction-delimited
        (schema.CHANGE_EVENTS_TXN — every event carries ``txn_id``, the
        log contains op='C' commit markers). Only committed transactions'
        events reach the merge — CaptureChangeMySQL's BEGIN→COMMIT
        atomicity (reference CaptureChangeMySQL.java:947-1024), enforced
        by the pending-store gate in ``apply_batch`` (:meth:`_txn_gate`):
        the batch unions the (tiny) carryover of still-open transactions
        from the checkpoint-adjacent pending store, one broadcast join
        against the commit set splits committed from pending, and the new
        pending set (O(open transactions), normally ≈ the last partial
        transaction of the batch) is rewritten before the sink commits.
        Steady-state cost: one small extra write per batch; NO per-event
        Python and NO full-stream stateful shuffle. Replay-safe: pending
        generations are keyed by the producing batch id and re-derived
        identically on replay. ``txn_abandon_after_batches`` routes a
        transaction still open after N carried batches to the DLQ, and
        :meth:`pending_report` lists what the gate holds.

        ``sink_mode``:

        - ``"merge"`` (default): copy-on-write — every batch folds into the
          touched base buckets (LakeTable.merge_events). Per-batch cost is
          O(touched table data); reads are fold-free.
        - ``"append"``: merge-on-read — every batch appends its events
          unfolded (salt-pre-folded only when ``salt_buckets > 1``) as
          delta files (LakeTable.append_events), per-batch cost O(batch) —
          the shape a thousand-batch production stream needs; reads
          LWW-fold the delta generations, bounded by inline partial
          compaction every ``compact_every`` batches (bucket rewrite
          amortized 1/N per batch, read amplification ≤ N generations).
        """
        if sink_mode not in ("merge", "append"):
            raise ValueError(f"sink_mode must be 'merge' or 'append', got {sink_mode!r}")
        # quality_checks: operators/profile.check_constraints specs
        # evaluated per micro-batch over the ADMITTED good rows, BEFORE the
        # sink commit (≙ ValidateRecord as a batch gate instead of
        # per-record routing). Verdicts persist checkpoint-adjacent under
        # quality/ (FsIO — durable wherever the checkpoint lives);
        # quality_action="halt" fails the micro-batch on any failed check
        # so nothing commits (replay re-evaluates after the fix),
        # "record" logs verdicts + metrics and proceeds. Opt-in cost: ONE
        # extra aggregate job per batch (a second batch scan in append
        # mode, whose sink otherwise runs one job).
        if quality_action not in ("record", "halt"):
            raise ValueError(
                f"quality_action must be 'record' or 'halt', got {quality_action!r}"
            )
        self.quality_checks = quality_checks
        self.quality_action = quality_action
        self.spark = spark
        # stats_cols: per-file [min,max] bounds recorded at every commit
        # (LakeTable file_stats) so downstream time/seq-range readers skip
        # files — e.g. stats_cols=["ts"] lets a "last 24h of transcripts"
        # scan touch only recent files. Off by default: bounds collection
        # is one footer read (local) or one column-pruned scan (remote)
        # per micro-batch commit.
        self.table = LakeTable(
            spark, table_path, n_buckets=n_buckets, stats_cols=stats_cols
        )
        self.checkpoint_dir = checkpoint_dir
        self.salt_buckets = salt_buckets
        self.sink_mode = sink_mode
        self.compact_every = compact_every
        # Inline snapshot-expiry cadence: a thousand-batch stream commits a
        # manifest per batch; without expiry the commit log grows without
        # bound and head discovery/time-travel degrade. 0 = off: run
        # `laketable expire` from a maintenance process instead — expiry
        # deletes only files expired manifests named, so that is safe too.
        self.expire_every = expire_every
        self.expire_keep_n = expire_keep_n
        # committed batches of this instance: the clock every maintenance
        # cadence (compaction, index fold, expiry, MV refresh) runs on
        self._n_commits = 0
        # Live downstream aggregate view (operators/mv.py): every
        # ``mv_refresh_every`` committed batches, the changelog since the
        # view's last synced version is folded into the MV by partial
        # recompute. The cursor IS the MV's last committed batch_id
        # (refresh commits with batch_id=to_version), so it is durable,
        # transactional with the view commit, and restart-safe without a
        # side file. None = off. With inline expiry on, keep
        # mv_refresh_every well under expire_keep_n: the refresh reads
        # changes(from=cursor) and raises (loudly, not silently) if the
        # cursor version has been expired out of the commit log.
        self.mv_path = mv_path
        self.mv_refresh_every = max(int(mv_refresh_every), 1)
        self.mv_key_cols = mv_key_cols or ["conv_id"]
        self._mv_agg_fn = mv_agg_fn
        self._mv = None
        if mv_path is not None:
            self._mv = LakeTable(spark, mv_path, n_buckets=n_buckets)
            if self._mv_agg_fn is None:
                from nifi_spark.operators.mv import transcript_stats_agg

                self._mv_agg_fn = transcript_stats_agg(self.mv_key_cols[0])
        # At-ingest NEAR-duplicate detection (operators/dedup_incremental.
        # LshIndex, ≙ DetectDuplicate's check-against-history lifted to
        # near-dups): each micro-batch's admitted INSERT turns are
        # assembled into per-conversation transcripts that probe + extend
        # the persisted index INSIDE apply_batch — batch id = the stream's
        # batch id, so the index write shares the sink's replay-idempotence
        # contract. Flagged pairs land under ``{table}/_near_dups/batch=N``
        # (overwrite-by-batch, replay-idempotent). Contract: a conversation
        # must arrive within one micro-batch (the index's new-id
        # discipline); ``index_compact_every`` folds the per-batch index
        # partitions on the post-commit maintenance cadence (_run_cadence).
        self._ndx = None
        self.index_compact_every = index_compact_every
        if near_dup_index is not None:
            from ..operators.dedup_incremental import LshIndex

            self._ndx = LshIndex(
                spark, near_dup_index, id_col="conv_id",
                text_col="transcript", threshold=near_dup_threshold,
            )
        self.watermark_delay_s = watermark_delay_s
        self.from_json_payload = from_json_payload
        self.txn_consistent = txn_consistent
        self.txn_marker_keep = txn_marker_keep
        # A transaction still open after N carried batches routes to the
        # DLQ with reason 'txn-abandoned' instead of being held forever
        # (by default open txns hold until commit or end-of-log — correct,
        # but an end-of-log replay leaves them invisible; see
        # pending_report for the observability half).
        self.txn_abandon_after_batches = txn_abandon_after_batches
        self.table_path = table_path
        # Checkpoint-adjacent state (txn pending store, quality verdicts)
        # must live wherever the checkpoint lives — in production that is
        # hdfs:// / s3a:// for driver-failover durability — so all of its
        # IO routes through FsIO (local fast path, Hadoop FS otherwise),
        # exactly like the LakeTable commit log. The engine watermark is
        # not here: it rides the table's batch commits (_load_watermark).
        self._ckpt_io = FsIO(spark, checkpoint_dir)
        self._pending_dir = fsio_join(checkpoint_dir, "txn_pending")
        # Legacy-layout guard (one listing): a dead-letter table written
        # with flat files would make Spark read only those and silently
        # hide every batch_id=N/reason=R directory written from now on.
        # Refused before the first batch, so no commit waits on it.
        dlq = fsio_join(table_path, "_dlq")
        if any(n.endswith(".parquet") for n in self.table._io.list_names(dlq)):
            raise ValueError(
                f"dead-letter table {dlq} holds flat parquet files (the "
                "layout before per-batch directories); move them under a "
                "batch_id=<N>/reason=<reason> directory before starting "
                "the pipeline"
            )
        # Pre-built Column expression trees, reused every micro-batch.
        # Columns are immutable unresolved expressions, so building the
        # ~40 of them once removes that many Py4J round-trips per batch —
        # measured ~0.2 s/batch of pure driver-side plan construction at a
        # thousand-batch stream's fixed cost (profiled: normalize+observe
        # plan build was ~2/3 the size of the write job itself).
        keep = ["source_file", "source_pos", "payload_json"]
        if txn_consistent:
            keep.append("txn_id")
        self._parse_cols, self._norm_cols = build_parse_exprs(keep)
        # op='ddl' rows are schema-change events (statement in `text`),
        # key-less by nature — excused from the bad-row flag and excluded
        # from the merge payload; apply_batch routes them to
        # LakeTable.evolve (≙ CaptureChangeMySQL INCLUDE_DDL_EVENTS,
        # CaptureChangeMySQL.java:353-362).
        self._is_ddl = F.col("op").eqNullSafe("ddl")
        # BEGIN/COMMIT transaction markers are key-less control rows too —
        # they must reach the txn gate/buffer, not the DLQ (the gate
        # consumes them; they never reach the merge).
        self._is_marker = F.col("op").isin("C", "B")
        self._bad_cond = (
            F.col("seq").isNull()
            | F.col("op").isNull()
            | (
                (F.col("conv_id").isNull() | F.col("turn_idx").isNull())
                & ~self._is_ddl
                & ~self._is_marker
            )
        )
        # markers excluded from the data path everywhere: the txn gate /
        # buffer consumes them in txn mode, and a non-txn pipeline fed a
        # transaction-delimited log suppresses them (≙ CaptureChangeMySQL
        # INCLUDE_BEGIN_COMMIT=false, CaptureChangeMySQL.java:342-351)
        self._good = (
            ~F.col("_bad") & ~F.col("_late") & ~self._is_ddl & ~self._is_marker
        )
        _gw = lambda c: F.when(self._good, c)  # noqa: E731
        self._obs_aggs = [
            F.count(F.lit(1)).alias("total"),
            F.sum(F.col("_bad").cast("long")).alias("n_bad"),
            F.sum(F.col("_late").cast("long")).alias("n_late"),
            F.sum((self._is_ddl & ~F.col("_bad")).cast("long")).alias("n_ddl"),
            F.sum((self._is_marker & ~F.col("_bad")).cast("long")).alias("n_marker"),
            F.max(_gw(F.unix_timestamp("ts"))).alias("mx"),
            F.min(_gw(F.col("source_pos"))).alias("min_pos"),
            F.max(_gw(F.col("source_pos"))).alias("max_pos"),
            F.min(_gw(F.col("seq"))).alias("min_seq"),
            F.max(_gw(F.col("seq"))).alias("max_seq"),
            F.collect_set(_gw(F.col("source_file"))).alias("files"),
            F.collect_set(_gw(self.table._bucket_col(KEY_COLS[0]))).alias("buckets"),
        ]
        # payload column ORDER is fixed by the normalize schema above
        self._payload_cols = [
            "seq", "op", "ts", *KEY_COLS,
            *[
                f.name
                for f in _EVENT_JSON_SCHEMA.fields
                if f.name not in ("seq", "type", "timestamp", "conv_id", "turn_idx")
            ],
        ]

    # ---------- engine watermark (in the table's head manifest) ----------

    def _load_watermark(self, head: dict | None = None) -> int | None:
        """The event-time max (epoch seconds) of every batch committed so
        far: ``summary.max_ts_epoch`` of ``head``, the table's head
        manifest (read when not given). None before the first commit, and
        on a table whose head predates the field until its next batch."""
        if head is None:
            head = self.table._manifest()
        return (head or {}).get("summary", {}).get("max_ts_epoch")

    def _batch_summary(self, rows: list, prev_wm: int | None) -> dict:
        """The record a batch commits with: its admitted and late counts
        and the running event-time max (the watermark input)."""
        counts = self._counts(rows)
        mxs = [int(r["mx"]) for r in rows if r["mx"] is not None]
        if prev_wm is not None:
            mxs.append(int(prev_wm))
        return {
            "n_events": counts["n_events"],
            "n_late": counts["n_late"],
            "max_ts_epoch": max(mxs) if mxs else None,
        }

    # ---------- JVM txn gate (pending store) ----------

    def _pending_before(self, batch_id: int) -> tuple[str | None, list[int]]:
        """Path of the newest pending generation produced by a batch BELOW
        ``batch_id`` (a replayed batch may already have written its own
        generation — that one must not feed itself), plus all generation
        ids present."""
        gens = sorted(
            int(name.split("_", 1)[1])
            for name in self._ckpt_io.list_names(self._pending_dir)
            if name.startswith("b_")
        )
        prior = [g for g in gens if g < batch_id]
        path = (
            fsio_join(self._pending_dir, f"b_{prior[-1]}") if prior else None
        )
        return path, gens

    def _mark_pending_rows(self, gen_dir: str, n: int, max_age: int | None) -> None:
        """Stamp the generation with its row count and the largest
        ``_gate_age`` of its open-transaction rows (both observed on the
        write job itself — no extra job, no local-only footer reads), so
        the NEXT batch can skip the read+union when the carryover is
        empty, the steady state of a feed whose transactions commit
        within a batch, and skip the abandoned-txn write when nothing it
        carries can expire. ``_NROWS`` reads ``"n age"`` (age -1: no open
        transaction), or ``"0"`` for an empty generation."""
        age = -1 if max_age is None else int(max_age)
        text = f"{int(n)} {age}" if n else "0"
        try:
            self._ckpt_io.write_text(fsio_join(gen_dir, "_NROWS"), text)
        except Exception:
            pass  # marker is an optimization; absence just means "read it"

    def _pending_stamp(self, gen_dir: str | None) -> tuple[int | None, int | None]:
        """``(rows, max open-txn age)`` of a pending generation, from its
        ``_NROWS`` stamp: ``(0, -1)`` when there is no generation, None
        for what the stamp does not tell (missing or unreadable, or the
        age on a stamp that holds only a non-zero count)."""
        if gen_dir is None:
            return 0, -1
        try:
            n, *age = (
                int(x)
                for x in self._ckpt_io.read_text(fsio_join(gen_dir, "_NROWS")).split()
            )
        except Exception:
            return None, None
        return n, age[0] if age else (-1 if n == 0 else None)

    def _pending_is_empty(self, gen_dir: str) -> bool:
        return self._pending_stamp(gen_dir)[0] == 0

    def pending_report(self) -> DataFrame:
        """Open (uncommitted) transactions currently held by the JVM gate —
        one row per txn_id with its event count, how many batches it has
        been carried, and its seq range. The observability half of the
        abandoned-transaction story: after an end-of-log replay, anything
        listed here never applied (its commit never arrived). Empty frame
        when the gate holds nothing (or txn mode is off).

        Columns: (txn_id, n_events, age_batches, min_seq, max_seq).
        """
        schema = (
            "txn_id long, n_events long, age_batches int, "
            "min_seq long, max_seq long"
        )
        gens = [
            int(n.split("_", 1)[1])
            for n in self._ckpt_io.list_names(self._pending_dir)
            if n.startswith("b_")
        ]
        if not gens:
            return self.spark.createDataFrame([], schema)
        path = fsio_join(self._pending_dir, f"b_{max(gens)}")
        if self._pending_is_empty(path):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.parquet(path)
        return (
            df.filter(F.col("op") != "C")  # kept commit markers ≠ open txns
            .groupBy("txn_id")
            .agg(
                F.count("*").alias("n_events"),
                F.max("_gate_age").cast("int").alias("age_batches"),
                F.min("seq").alias("min_seq"),
                F.max("seq").alias("max_seq"),
            )
            .select("txn_id", "n_events", "age_batches", "min_seq", "max_seq")
        )

    def _txn_gate(
        self, flagged: DataFrame, batch_id: int
    ) -> "tuple[DataFrame, Callable[[], None]]":
        """Transaction-consistent admission without per-event state: union
        the carryover store (pending store, O(open transactions +
        recent commit markers) — normally just the batch-boundary partial
        txn), split committed-vs-pending with ONE broadcast join against
        the commit set (operators/txn.txn_complete_filter), persist the
        new carryover generation keyed by this batch id, admit the
        committed side. Bad rows bypass the gate (they belong to the DLQ,
        not to a transaction).

        The carryover holds TWO kinds of rows:

        - pending data events of still-open transactions (no TTL — an
          open transaction holds until its commit or end-of-log);
        - recently seen COMMIT markers, kept ``txn_marker_keep`` more
          generations so a member event arriving a batch or two AFTER its
          commit marker (bounded arrival disorder at a segment boundary)
          still matches. Markers retire after ``txn_marker_keep``
          generations, bounding the store; a straggler later than that
          is held as an open transaction (and, with
          ``txn_abandon_after_batches``, routed to the DLQ).

        Exactly-once under replay: the gate always consumes the newest
        generation BELOW this batch id and rewriting generation
        ``b_{batch_id}`` is deterministic from (carryover, batch), so a
        replayed batch re-derives identical admitted/pending sets.
        Generations older than the consumed one are retired inline.

        Returns ``(admitted, persist_thunk)``: the caller runs
        ``persist_thunk()`` (the pending-store write job and its
        ``txn-abandoned`` DLQ rows) beside the pre-sink steps (quality
        gate, near-dup index) and joins it BEFORE the sink commits: a
        batch whose manifest is committed replays as a no-op, so a
        generation still unwritten at that commit could never be
        re-derived and the next batch would read an older one, losing
        the open transactions this batch carried.
        """
        from ..operators.txn import txn_complete_filter

        prev_path, gens = self._pending_before(batch_id)
        n_prev, age_prev = self._pending_stamp(prev_path)
        batch = flagged.withColumn("_gate_age", F.lit(0))
        src = batch
        if n_prev != 0:
            # explicit schema: no per-batch footer-inference job, and an
            # older generation written BEFORE an additive DDL evolution
            # reads with nulls for the new columns (schema-on-read)
            # instead of failing the union
            src = batch.unionByName(
                self.spark.read.schema(batch.schema).parquet(prev_path)
            )
        bad = src.filter(F.col("_bad"))
        ok = src.filter(~F.col("_bad"))
        committed, pending = txn_complete_filter(ok, txn_col="txn_id", op_col="op")
        abandoned = None
        n_abandon = self.txn_abandon_after_batches
        if n_abandon is not None:
            # expire only rows STILL pending (a commit arriving this batch
            # admits its stragglers normally, whatever their age)
            expired = F.col("_gate_age") >= n_abandon
            # this batch's own rows are age 0, the consumed generation's
            # at most age_prev: a batch with nothing to expire writes no
            # abandoned-txn directory
            if n_abandon <= 0 or age_prev is None or age_prev >= n_abandon:
                abandoned = pending.filter(expired)
            pending = pending.filter(~expired)
        markers = ok.filter(
            (F.col("op") == "C") & (F.col("_gate_age") < self.txn_marker_keep)
        )
        carry = pending.unionByName(markers).withColumn(
            "_gate_age", F.col("_gate_age") + 1
        )
        out_dir = fsio_join(self._pending_dir, f"b_{batch_id}")
        obs = Observation(f"txn_carry_{batch_id}")

        def persist() -> None:
            # repartition (not coalesce): coalesce(1) would collapse the
            # whole upstream join onto one task; an explicit exchange
            # keeps the join parallel and only the tiny carryover lands
            # on a single writer. The Observation rides the write job —
            # the row count for the _NROWS marker costs no extra job and
            # no local-filesystem assumption.
            carry.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.max(F.when(F.col("op") != "C", F.col("_gate_age"))).alias("age"),
            ).repartition(1).write.mode("overwrite").parquet(out_dir)
            self._mark_pending_rows(out_dir, obs.get["n"], obs.get["age"])
            if abandoned is not None:
                # expired open txns land in the DLQ instead of vanishing
                # (a small write on the batches whose carryover can hold
                # one, overwritten by a replay of the uncommitted batch)
                self._write_dlq(abandoned, batch_id, "txn-abandoned")
            if prev_path is not None:
                consumed = int(prev_path.rsplit("b_", 1)[1])
                for g in gens:
                    if g < consumed:
                        self._ckpt_io.delete(
                            fsio_join(self._pending_dir, f"b_{g}")
                        )

        return committed.unionByName(bad).drop("_gate_age"), persist

    # ---------- snapshot bootstrap (initial load → incremental handoff) ----------

    def bootstrap(
        self,
        snapshot_df: DataFrame,
        snapshot_seq: int,
        watermark_ts_epoch: int | None = None,
    ) -> int:
        """Initial full-table load from a consistent snapshot image, then
        hand off to the incremental stream — the reference's
        "Retrieve All Records" / Initial Binlog Filename+Position startup
        contract (CaptureChangeMySQL.java:328-334: with no processor
        state, either replay the whole history or start from a declared
        snapshot position).

        ``snapshot_df`` is the table image as of log position
        ``snapshot_seq`` (every row stamped ``_seq = snapshot_seq``).
        Starting the stream afterwards is exact under either handoff:

        - replaying the FULL log: events at/below ``snapshot_seq`` lose
          the merge's LWW guard (``src.seq > tgt._seq``) against the
          snapshot rows — idempotent overlap;
        - replaying only the tail (> ``snapshot_seq``): changes apply on
          top of the image, including deletes of snapshotted keys.

        The bootstrap is recorded as lineage batch_id -1 with the
        snapshot position range, so the provenance chain covers the
        initial load; ``watermark_ts_epoch`` (the snapshot's event-time)
        rides the initial commit's summary and pre-seeds the engine
        watermark when late-event skipping is on.
        """
        if self.table.exists():
            raise ValueError(
                "bootstrap() requires an empty table — the snapshot is an "
                "initial load, not a merge (use the stream for increments)"
            )
        img = snapshot_df.withColumn(
            "_seq", F.lit(int(snapshot_seq)).cast("long")
        )
        summary = {"bootstrap_seq": int(snapshot_seq)}
        if watermark_ts_epoch is not None:
            summary["max_ts_epoch"] = int(watermark_ts_epoch)
        version = self.table.create(img, KEY_COLS, summary=summary)
        n_rows = self.table.read_raw().count()
        write_lineage_rows(
            self.spark,
            [{
                "batch_id": -1,
                "snapshot_id": int(version),
                "source_file": "_snapshot",
                "min_pos": 0,
                "max_pos": int(snapshot_seq),
                "min_seq": 0,
                "max_seq": int(snapshot_seq),
                "n_events": int(n_rows),
                "n_late": 0,
                "committed_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }],
            self.table_path,
        )
        return version

    # ---------- batch apply (the foreachBatch body) ----------

    def _quality_gate(self, flagged: DataFrame, batch_id: int, metrics: dict) -> None:
        """Evaluate the declared checks over this batch's admitted good
        rows (operators/profile.check_constraints — one aggregate job),
        persist the verdicts checkpoint-adjacent under ``quality/``, and
        under ``quality_action="halt"`` raise before anything commits.

        The verdict collect is bounded at len(quality_checks) rows (the
        same bounded-driver-collect class as DDL statements and touched
        buckets). Verdict files are keyed by batch id, so a replayed
        batch overwrites its own record instead of duplicating it.
        """
        from ..operators.profile import check_constraints

        verdicts = check_constraints(
            flagged.filter(self._good), self.quality_checks
        ).collect()
        failed = [r for r in verdicts if not r.passed]
        metrics["n_quality_failed"] = len(failed)
        qdir = fsio_join(self.checkpoint_dir, "quality")
        self._ckpt_io.mkdirs(qdir)
        self._ckpt_io.write_text(
            fsio_join(qdir, f"batch_{batch_id}.json"),
            json.dumps(
                {
                    "batch_id": batch_id,
                    "action": self.quality_action,
                    "checks": [r.asDict() for r in verdicts],
                }
            ),
        )
        if failed and self.quality_action == "halt":
            # Per-kind phrasing: "metric < threshold" is wrong for `unique`
            # (pass condition is distinct == non-null count, so one dup in
            # 10^7 rows rounds the ratio to 1.0 and would render the
            # misleading "metric=1.0 < 1.0") and for `non_empty` (a count).
            def _describe(r):
                if r.check == "unique":
                    return (
                        f"unique({r.column}) duplicate non-null values "
                        f"present (distinct/total ratio={r.metric})"
                    )
                if r.check == "non_empty":
                    return f"non_empty() dataset is empty (n_rows={int(r.metric)})"
                return (
                    f"{r.check}({r.column}) metric={r.metric} "
                    f"< threshold={r.threshold}"
                )

            raise QualityGateError(
                f"batch {batch_id} failed quality checks: "
                + "; ".join(_describe(r) for r in failed)
            )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Normalize → flag (DLQ/late) → gates → sink → post-commit.

        Returns metrics. Malformed events (unparseable payload / missing
        key or sequence) route to a dead-letter table under
        ``{table}/_dlq`` instead of poisoning the merge — the engine's
        RetryFlowFile/penalization analog (reference
        .../standard/RetryFlowFile.java `retries_exceeded` routing;
        SURVEY.md §1.1 penalization row).

        After the gates, both sink modes run one sequence:

        1. accounting — ``self._obs_aggs`` per source file (counts,
           offset/seq ranges, event-time max, touched buckets). Append
           mode observes them on the delta write itself; merge mode reads
           only the touched base buckets, so it runs them first as one
           aggregation over the cached batch;
        2. the sink call — ``append_events`` or ``merge_events``, handed
           the touched set so it runs no probe of its own, and the
           batch's summary (counts and the running event-time max, the
           watermark input), which rides the commit;
        3. post-commit (:meth:`_post_commit`) — DDL evolve, DLQ, lineage,
           then the maintenance cadence.

        Driver-action budget per micro-batch (the fixed cost that
        serializes a thousands-of-batches stream): ONE Spark job in append
        mode (the delta write; a multi-file batch adds one aggregation for
        per-file lineage), TWO in merge mode (the accounting pass and the
        merge). Lineage rows are already on the driver and append without
        a job; the DDL collect and the DLQ write run only when the batch
        carries DDL or bad rows. The opt-in stages add their own: one
        aggregate for the quality gate, the index probe and writes plus
        one pair write (its count observed on it) for the near-dup index,
        the pending-store write for the txn gate (beside the quality gate
        and the near-dup step, joined before the sink call). When more
        than one of these consumers reads the admitted batch (merge mode,
        quality checks, near-dup index), it is cached once, so none of
        them re-runs parse or the txn-gate join; the plain append path
        stays one uncached job. The maintenance cadence
        runs index compaction beside the other tasks (:meth:`_run_cadence`).
        """
        metrics = {"batch_id": batch_id, "n_events": 0, "n_late": 0, "n_dlq": 0, "n_ddl": 0, "version": None}
        # Replay pre-check, driver-only (one manifest head read, which also
        # yields the watermark): append mode must know before launching
        # its single job — its observation is populated by that job, so
        # short-circuiting later (as the sinks do internally) would leave
        # nothing to await.
        head = self.table._manifest()
        if self.table._is_replay(head, batch_id):
            self._replay_heal(batch_df, batch_id, metrics)
            return metrics
        prev_wm = self._load_watermark(head) if head else None
        flagged = self._flag_batch(batch_df, prev_wm)
        pre_sink = contextlib.nullcontext()
        with contextlib.ExitStack() as stack:
            if self.txn_consistent:
                # cache the flagged batch across the gate's TWO consumers
                # (the pending-store write and the admitted side feeding
                # the sink): without it every gate job re-runs the batch
                # scan + parse
                gate_cache = flagged.cache()
                stack.callback(gate_cache.unpersist)
                flagged, persist_pending = self._txn_gate(gate_cache, batch_id)
                pre_sink = _in_background(persist_pending)
            # Materialize the admitted batch once when more than one
            # consumer reads it (quality gate, near-dup index, merge
            # accounting + merge, DDL/DLQ reads); otherwise each re-runs
            # parse and the txn-gate join. The plain append path has one
            # consumer, its observed write, and stays uncached.
            if self.sink_mode == "merge" or self.quality_checks or self._ndx is not None:
                flagged = flagged.cache()
                stack.callback(flagged.unpersist)
            # The pending-store write runs beside the pre-sink steps and
            # joins before the sink call: once the manifest commits, a
            # replay of this batch is a no-op, so the generation must be
            # durable first. Its error fails the batch before anything
            # commits, and the replay re-derives it.
            with pre_sink:
                # quality gate FIRST: verdicts must precede the sink commit
                # for halt to mean "nothing applied"
                if self.quality_checks:
                    self._quality_gate(flagged, batch_id, metrics)
                if self._ndx is not None:
                    # BEFORE the sink commit, so the crash window between
                    # the two commits heals through the NORMAL replay path:
                    # a crash after the index add replays the whole batch,
                    # the index add is idempotent by batch id, and the sink
                    # then commits. Index compaction waits for the
                    # post-commit cadence: it would refuse the replay of any
                    # batch it folded. The quality gate runs first, so a
                    # halted batch never reaches the index.
                    self._near_dup_step(flagged, batch_id, metrics)
            version, per_file = self._sink(flagged, batch_id, prev_wm)
            metrics.update(self._counts(per_file), version=version)
            self._post_commit(flagged, batch_id, version, per_file, metrics)
        return metrics

    def _replay_heal(self, batch_df: DataFrame, batch_id: int, metrics: dict) -> None:
        """Replay of a batch the sink already committed: redo the writes
        that follow the sink commit and may have been lost to a crash.
        The batch's DDL re-applies (``LakeTable.evolve`` is idempotent)
        and its bad rows re-write their DLQ directory (an overwrite). The
        near-dup index gets the batch when its head manifest neither names
        a part with this id nor covers it by ``compacted_upto`` — state
        from runs that committed the sink before the index; the current
        order indexes first. The txn-admitted set of the original run
        cannot be rebuilt (the pending store has moved on), so txn mode
        records the index skip instead of freezing a wrong doc set.

        The heal frame is the PARSED batch — never the raw one, whose
        text column is NULL under from_json_payload — flagged for ``_bad``
        only: the watermark has advanced past this batch, so a fresh
        ``_late`` would drop rows the sink committed as on time."""
        healed = self._flag_batch(batch_df, late=False)
        self._evolve_ddl(healed)
        bad = healed.filter(F.col("_bad"))
        if not bad.isEmpty():
            self._write_dlq(bad, batch_id, "unparseable-or-missing-key")
        if self._ndx is None:
            return
        head = self._ndx._head()
        wm = head["compacted_upto"]
        if batch_id in [p["id"] for p in head["parts"]] or (
            wm is not None and batch_id <= wm
        ):
            return
        if self.txn_consistent:
            metrics["near_dup_heal_skipped"] = True
        else:
            self._near_dup_step(healed, batch_id, metrics)

    def _sink(
        self, flagged: DataFrame, batch_id: int, prev_wm: int | None
    ) -> tuple[int | None, list]:
        """Accounting + the one sink call, which commits the batch's
        summary (:meth:`_batch_summary` over the watermark ``prev_wm``).
        Returns ``(version, per_file)``: the committed version (None when
        nothing committed) and the ``self._obs_aggs`` rows, one per source
        file."""
        kw = dict(seq_col="seq", op_col="op", batch_id=batch_id)
        if self.sink_mode == "merge":
            per_file = self._per_file(flagged)
            counts = self._counts(per_file)
            if not counts["n_events"]:
                return None, per_file
            version = self.table.merge_events(
                self._payload(flagged), KEY_COLS,
                extra_summary=self._batch_summary(per_file, prev_wm),
                touched=sorted({int(b) for r in per_file for b in r["buckets"] or []}),
                **kw,
            )
            return version, per_file
        # the aggregates ride the delta write (a CollectMetrics node in its
        # plan, one narrow stage); the touched set and the summary are
        # read after that job ran
        obs = Observation()
        row = functools.cache(lambda: obs.get)
        version = self.table.append_events(
            self._payload(flagged.observe(obs, *self._obs_aggs)), KEY_COLS,
            touched=lambda: [int(b) for b in row()["buckets"] or []],
            extra_summary=lambda: self._batch_summary([row()], prev_wm),
            **kw,
        )
        files = sorted(row()["files"] or [])
        if version is not None and len(files) > 1:
            # multi-file batch (e.g. full-backlog availableNow drain):
            # per-source-file lineage ranges need one extra aggregation
            return version, self._per_file(flagged)
        return version, [{**row(), "source_file": files[0] if files else None}]

    def _per_file(self, flagged: DataFrame) -> list:
        return flagged.groupBy("source_file").agg(*self._obs_aggs).collect()

    def _payload(self, flagged: DataFrame) -> DataFrame:
        """The admitted events in sink column order, salted-folded when
        ``salt_buckets > 1`` (the hot-key defence)."""
        events = flagged.filter(self._good)
        if self.from_json_payload:
            payload = events.select(*self._payload_cols)
        else:
            meta = ("source_file", "source_pos", "payload_json", "txn_id", "_bad", "_late")
            head = ["seq", "op", "ts", *KEY_COLS]
            payload = events.select(
                *head, *[c for c in events.columns if c not in (*head, *meta)]
            )
        if self.salt_buckets > 1:
            payload = lww_fold_salted(
                payload, key_cols=KEY_COLS,
                salt_buckets=self.salt_buckets, keep_deletes=True,
            )
        return payload

    @staticmethod
    def _counts(rows: list) -> dict:
        """Batch metrics from ``_obs_aggs`` rows: admitted events are the
        rows that are not bad, late, DDL or transaction markers."""
        tot = {
            k: sum(int(r[k] or 0) for r in rows)
            for k in ("total", "n_bad", "n_late", "n_ddl", "n_marker")
        }
        return {
            "n_events": tot["total"] - tot["n_bad"] - tot["n_late"]
            - tot["n_ddl"] - tot["n_marker"],
            "n_late": tot["n_late"],
            "n_dlq": tot["n_bad"],
            "n_ddl": tot["n_ddl"],
        }

    def _post_commit(
        self, flagged: DataFrame, batch_id: int, version: int | None,
        per_file: list, metrics: dict,
    ) -> None:
        """Everything after the sink commit, in one order for both sink
        modes: DDL evolve (metadata-only and additive — this batch's files
        null-fill through the schema reader; a replay re-applies it), the
        DLQ write, then — only when the sink committed — lineage rows and
        the maintenance cadence. The watermark is already in the commit."""
        if metrics["n_ddl"]:
            self._evolve_ddl(flagged)
        if metrics["n_dlq"]:
            self._write_dlq(
                flagged.filter(F.col("_bad")), batch_id, "unparseable-or-missing-key"
            )
        if version is None:
            return
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        lineage = []
        for r in per_file:
            n_events = self._counts([r])["n_events"]
            if n_events > 0:
                lineage.append({
                    "batch_id": int(batch_id), "snapshot_id": int(version),
                    "source_file": r["source_file"],
                    "min_pos": r["min_pos"], "max_pos": r["max_pos"],
                    "min_seq": r["min_seq"], "max_seq": r["max_seq"],
                    "n_events": n_events, "n_late": metrics["n_late"],
                    "committed_at": committed_at,
                })
        write_lineage_rows(self.spark, lineage, self.table_path)
        self._run_cadence(metrics)

    def _evolve_ddl(self, flagged: DataFrame) -> None:
        """Apply the batch's DDL statements (op='ddl', statement in
        ``text``) in seq order as one additive evolve — idempotent, so a
        replay may re-run it. Driver-side collect is bounded by the
        number of DDL events in the batch — schema changes, not data.
        Unsupported/destructive DDL raises (the statement lands in the
        error). A DDL-only first batch has no table to evolve."""
        from ..sinks.laketable import parse_ddl_add_columns

        rows = (
            flagged.filter(self._is_ddl & ~F.col("_bad"))
            .select("seq", "text")
            .collect()
        )
        add: dict = {}
        for r in sorted(rows, key=lambda r: int(r["seq"])):
            if r["text"]:
                add.update(parse_ddl_add_columns(r["text"]))
        if add and self.table.exists():
            self.table.evolve(add)

    def _write_dlq(self, rows: DataFrame, batch_id: int, reason: str) -> None:
        """Write ``rows`` to the dead-letter table ``{table}/_dlq``: one
        directory ``batch_id=N/reason=R`` per (batch, reason), overwritten
        by a replay of the batch, so each row lands once however often the
        batch re-runs. The files carry the whole record; the directory
        keys are the same two columns, so reading ``_dlq`` still returns
        (batch_id, payload_json, source_file, source_pos, reason), with
        ``batch_id`` typed by partition inference (int while ids fit)."""
        (
            rows.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "payload_json",
                "source_file",
                "source_pos",
                F.lit(reason).alias("reason"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(fsio_join(
                self.table_path, "_dlq", f"batch_id={batch_id}", f"reason={reason}"
            ))
        )

    def _run_cadence(self, metrics: dict) -> None:
        """Maintenance on the committed-batch clock (single-writer loop):
        each task runs every N committed batches of this instance. It all
        follows the sink commit, so it only ever folds committed batches —
        a crash here replays as an already-committed batch.

        - LSH index compaction (``index_compact_every``) runs on a thread
          of its own, side by side with the tasks below: it reads and
          writes only the index directory and commits through its own
          manifest, so it shares no state with them. The batch waits for it
          before returning, and its error fails the batch after the
          others ran (the view refresh still commits); the next due
          compaction folds what this one left;
        - MOR bucket compaction (append mode, ``compact_every``): the
          amortized read-debt repayment, a rewrite of the unfolded buckets;
        - snapshot expiry (``expire_every``): keep the newest
          ``expire_keep_n`` snapshots + their base closure, on the table
          and on the downstream view (which commits one snapshot per
          refresh; its cursor rides the HEAD manifest, which expiry keeps);
        - MV refresh (``mv_refresh_every``): cursor = the view's last
          committed batch_id, so a crash between table commit and refresh
          heals by the next refresh spanning the missed range."""
        self._n_commits += 1

        def due(every: int) -> bool:
            return bool(every) and self._n_commits % every == 0

        with contextlib.ExitStack() as stack:
            if self._ndx is not None and due(self.index_compact_every):
                stack.enter_context(_in_background(self._ndx.compact))
            if self.sink_mode == "append" and due(self.compact_every):
                # the manifest this batch just committed (cached): no head read
                mor = self.table._manifest(metrics["version"]).get("mor_buckets", [])
                if mor:
                    self.table.compact_buckets([int(b) for b in mor])
                    metrics["compacted"] = len(mor)
            if due(self.expire_every):
                out = self.table.expire_snapshots(keep_n=self.expire_keep_n)
                if out["manifests_deleted"]:
                    metrics["expired"] = out["manifests_deleted"]
                if self._mv is not None:  # a missing view lists no versions
                    mout = self._mv.expire_snapshots(keep_n=self.expire_keep_n)
                    if mout["manifests_deleted"]:
                        metrics["mv_expired"] = mout["manifests_deleted"]
            if self._mv is not None and due(self.mv_refresh_every):
                from nifi_spark.operators.mv import refresh_agg_mv

                from_v = self._mv.last_batch_id() or 0
                metrics["mv_synced_to"] = refresh_agg_mv(
                    self.table, self._mv, self.mv_key_cols, self._mv_agg_fn,
                    int(from_v),
                )

    def _flag_batch(
        self, batch_df: DataFrame, prev_wm: int | None = None, late: bool = True
    ) -> DataFrame:
        """Parse + flag one micro-batch: payload parse (when not baked
        into the streaming plan), ``_bad``, and — unless ``late=False``
        (the replay heal) — the ``_late`` flag against the engine
        watermark ``prev_wm`` (:meth:`_load_watermark`)."""
        if "_late" in batch_df.columns:
            # fully pre-flagged by the streaming plan (start() bakes parse,
            # _bad, and a constant-false _late into the stream when no
            # engine watermark is configured) — zero per-batch plan nodes
            return batch_df
        if "_bad" in batch_df.columns:
            bad_flagged = batch_df  # parse+_bad pre-built by the streaming plan
        else:
            if self.from_json_payload:
                # pre-built expression trees (see __init__) — same plan
                # as normalize_json(batch_df, keep_cols=[...]) without
                # rebuilding ~25 Column objects per micro-batch
                parsed = batch_df.select(*self._parse_cols).select(*self._norm_cols)
                bad_cond = self._bad_cond
            else:
                parsed = batch_df
                bad_cond = F.lit(False)
            bad_flagged = parsed.withColumn("_bad", bad_cond)
        if not late:
            return bad_flagged

        late_cond = F.lit(False)
        if self.watermark_delay_s is not None and prev_wm is not None:
            cutoff = F.timestamp_seconds(F.lit(prev_wm - self.watermark_delay_s))
            late_cond = F.col("ts") < cutoff
        return bad_flagged.withColumn("_late", ~F.col("_bad") & late_cond)

    def _near_dup_step(self, df: DataFrame, batch_id: int, metrics: dict) -> None:
        """Probe + extend the persisted LSH index with this batch's
        admitted INSERT conversations; land flagged pairs under
        ``{table}/_near_dups/batch=N`` (overwrite — replay-idempotent).

        The index add is idempotent by batch id (LshIndex contract), so a
        replayed batch re-derives identical pairs and overwrites the same
        partition. The index's materialized probe intermediates are
        released once the pairs are written."""
        from ..operators.transcript import assemble_transcripts

        ev = df
        if "_bad" in ev.columns:
            ev = ev.filter(~F.col("_bad"))
        if "_late" in ev.columns:
            ev = ev.filter(~F.col("_late"))
        inserts = ev.filter(
            (F.col("op") == "I") & F.col("text").isNotNull()
        )
        docs = assemble_transcripts(
            inserts, tool_col="tool" if "tool" in ev.columns else None
        ).select("conv_id", "transcript")
        obs = Observation()
        try:
            pairs = self._ndx.add_batch(docs, batch_id)
            # written straight from the executors with the count observed
            # on the write job; the pair set is micro-batch bounded (new
            # docs x matched buckets), so one writer suffices. A batch
            # with no pairs writes one empty file that carries the schema.
            (
                pairs.observe(obs, F.count(F.lit(1)).alias("n"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(
                    fsio_join(self.table_path, "_near_dups", f"batch={batch_id}")
                )
            )
            metrics["n_near_dups"] = int(obs.get["n"])
        finally:
            self._ndx.release()

    # ---------- streaming wiring ----------

    def start(
        self,
        feed_dir: str,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """readStream over the feed dir; availableNow drains and stops
        (tests/bench), ``processing_time`` (e.g. ``"1 second"``) runs the
        NiFi steady-state shape: a long-lived timer-driven flow
        (≙ TimerDrivenSchedulingAgent.java:35)."""
        from ..schema import CHANGE_EVENTS_TXN

        return start_stream(
            self, CHANGE_EVENTS_TXN if self.txn_consistent else CHANGE_EVENTS,
            feed_dir, max_files_per_trigger, available_now, processing_time,
            # a file-state-dependent watermark cutoff stays per-batch
            bake_late=self.watermark_delay_s is None,
        )

    def run_to_completion(self, feed_dir: str, **kw) -> None:
        q = self.start(feed_dir, **kw)
        q.awaitTermination()


def start_stream(
    pipe, feed_schema, feed_dir: str, max_files_per_trigger: int | None,
    available_now: bool, processing_time: str | None, bake_late: bool = False,
):
    """readStream over ``feed_dir`` → ``foreachBatch(pipe.apply_batch)``,
    the stream wiring of both pipelines. The batch-invariant plan prefix
    is baked into the STREAM: parse + bad-row flag (+ constant-false
    ``_late`` when ``bake_late``). The incremental planner re-analyzes it
    Scala-side, so foreachBatch adds zero (or one) plan nodes per batch
    instead of rebuilding the whole chain through Py4J."""
    reader = pipe.spark.readStream.schema(feed_schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(feed_dir)
    if pipe.from_json_payload:
        stream = (
            stream.select(*pipe._parse_cols)
            .select(*pipe._norm_cols)
            .withColumn("_bad", pipe._bad_cond)
        )
    else:
        stream = stream.withColumn("_bad", F.lit(False))
    if bake_late:
        stream = stream.withColumn("_late", F.lit(False))
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: pipe.apply_batch(df, bid)
    ).option("checkpointLocation", pipe.checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _cli(argv: list[str] | None = None) -> None:
    """spark-submit entry point (north rule: `spark-submit --py-files`);
    launched via the repo-root ``run_cdc.py`` shim (a --py-files main script
    cannot use this module's relative imports). See run_cdc.py docstring
    for the full command line.
    """
    import argparse

    p = argparse.ArgumentParser(description="nifi_spark CDC apply pipeline")
    p.add_argument("--feed-dir", required=True, help="change-feed parquet directory")
    p.add_argument("--table", default=None, help="target lake table path")
    p.add_argument("--tables", default=None,
                   help="multi-table fan-out: name=path[,name=path...] — one "
                        "binlog stream routed by --table-col to N lake tables "
                        "(mutually exclusive with --table)")
    p.add_argument("--table-col", default="table_name",
                   help="routing column for --tables mode")
    p.add_argument("--parallel-tables", action="store_true",
                   help="apply per-table batches from a thread pool")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--watermark-delay-s", type=int, default=None)
    p.add_argument("--from-json-payload", action="store_true")
    p.add_argument("--txn-consistent", action="store_true",
                   help="feed is transaction-delimited (txn_id + op='C' markers); "
                        "hold events until their transaction commits")
    p.add_argument("--bootstrap-from", default=None,
                   help="parquet path of a consistent snapshot image to load "
                        "before streaming (initial load -> incremental handoff)")
    p.add_argument("--bootstrap-seq", type=int, default=None,
                   help="log position the snapshot is consistent as of "
                        "(required with --bootstrap-from)")
    p.add_argument("--sink-mode", choices=["merge", "append"], default="merge",
                   help="copy-on-write merge per batch, or merge-on-read append + compaction cadence")
    p.add_argument("--compact-every", type=int, default=16,
                   help="append mode: fold MOR delta generations every N batches")
    p.add_argument("--expire-every", type=int, default=0,
                   help="run snapshot expiry every N committed batches (0 = off)")
    p.add_argument("--expire-keep-n", type=int, default=64,
                   help="snapshots kept (plus base closure) by inline expiry")
    p.add_argument("--txn-abandon-after-batches", type=int, default=None,
                   help="JVM gate: route a txn still open after N carried "
                        "batches to the DLQ (reason txn-abandoned)")
    p.add_argument("--mv-path", default=None,
                   help="maintain a live per-conversation stats view at this "
                        "path (changelog-driven partial recompute)")
    p.add_argument("--mv-refresh-every", type=int, default=1,
                   help="refresh the stats view every N committed batches")
    p.add_argument("--mv-agg", choices=("stats", "sft"), default="stats",
                   help="view aggregate: per-conversation stats (default) or "
                        "rendered SFT training samples (transcript text + "
                        "counters + train/val split)")
    p.add_argument("--quality-checks", default=None,
                   help="JSON list of operators/profile.check_constraints "
                        "specs evaluated per batch over the admitted rows, "
                        'e.g. \'[{"check":"complete","column":"text",'
                        '"min_fraction":1.0}]\'')
    p.add_argument("--quality-action", choices=("record", "halt"),
                   default="record",
                   help="on a failed check: record the verdict and proceed, "
                        "or halt the micro-batch before anything commits")
    p.add_argument("--near-dup-index", default=None,
                   help="path of the persisted LSH index: each batch's admitted "
                        "insert conversations probe+extend it; flagged pairs "
                        "land under {table}/_near_dups/batch=N")
    p.add_argument("--index-compact-every", type=int, default=0,
                   help="fold the per-batch LSH index partitions every N batches")
    p.add_argument("--near-dup-threshold", type=float, default=0.5)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--available-now", action="store_true",
                   help="drain the feed and stop (batch replay); else run continuous")
    args = p.parse_args(argv)

    def _mv_agg_from_name(name: str):
        if name == "sft":
            from ..operators.mv import sft_sample_agg

            return sft_sample_agg()
        return None  # CdcPipeline defaults to transcript_stats_agg

    from ..session import get_spark

    spark = get_spark("nifi_spark_cdc")
    if bool(args.table) == bool(args.tables):
        p.error("pass exactly one of --table / --tables")
    if args.tables:
        from .multi import MultiTableCdcPipeline

        if args.bootstrap_from:
            p.error("--bootstrap-from is single-table only")
        tables = dict(kv.split("=", 1) for kv in args.tables.split(","))
        multi = MultiTableCdcPipeline(
            spark,
            tables,
            args.checkpoint,
            table_col=args.table_col,
            parallel=args.parallel_tables,
            n_buckets=args.n_buckets,
            salt_buckets=args.salt_buckets,
            watermark_delay_s=args.watermark_delay_s,
            from_json_payload=args.from_json_payload,
            sink_mode=args.sink_mode,
            compact_every=args.compact_every,
            txn_consistent=args.txn_consistent,
            txn_abandon_after_batches=args.txn_abandon_after_batches,
            expire_every=args.expire_every,
            expire_keep_n=args.expire_keep_n,
        )
        multi.run_to_completion(
            args.feed_dir,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=args.available_now,
        )
        return
    pipe = CdcPipeline(
        spark,
        table_path=args.table,
        checkpoint_dir=args.checkpoint,
        n_buckets=args.n_buckets,
        salt_buckets=args.salt_buckets,
        watermark_delay_s=args.watermark_delay_s,
        from_json_payload=args.from_json_payload,
        sink_mode=args.sink_mode,
        compact_every=args.compact_every,
        txn_consistent=args.txn_consistent,
        txn_abandon_after_batches=args.txn_abandon_after_batches,
        expire_every=args.expire_every,
        expire_keep_n=args.expire_keep_n,
        mv_path=args.mv_path,
        mv_refresh_every=args.mv_refresh_every,
        mv_agg_fn=_mv_agg_from_name(args.mv_agg),
        quality_checks=(
            json.loads(args.quality_checks) if args.quality_checks else None
        ),
        quality_action=args.quality_action,
        near_dup_index=args.near_dup_index,
        index_compact_every=args.index_compact_every,
        near_dup_threshold=args.near_dup_threshold,
    )
    if args.bootstrap_from:
        if args.bootstrap_seq is None:
            p.error("--bootstrap-from requires --bootstrap-seq")
        if not pipe.table.exists():
            pipe.bootstrap(
                spark.read.parquet(args.bootstrap_from), args.bootstrap_seq
            )
    pipe.run_to_completion(
        args.feed_dir,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.available_now,
    )


if __name__ == "__main__":
    _cli()
