"""Tests: transaction-boundary semantics (batch operators + the pipeline's
pending-store txn gate).

Reference semantics under test: CaptureChangeMySQL's BEGIN→COMMIT
transaction delimiting (CaptureChangeMySQL.java:947-1024) — a
transaction's events reach the sink only once its COMMIT is seen, and a
dangling (uncommitted) transaction never does.
"""

from __future__ import annotations

import datetime

from pyspark.sql import types as T

from nifi_spark.operators.txn import txn_complete_filter, txn_group
from nifi_spark.schema import CHANGE_EVENTS_TXN
from nifi_spark.streaming.job import CdcPipeline

TXN_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("txn_id", T.LongType(), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, TXN_SCHEMA)


def test_txn_complete_filter_splits_committed_and_pending(spark):
    rows = [
        (1, "B", 10, None, None),
        (2, "U", 10, "c1", "a"),
        (3, "U", 10, "c1", "b"),
        (4, "C", 10, None, None),
        (5, "B", 11, None, None),
        (6, "U", 11, "c2", "dangling"),  # no COMMIT for txn 11
        (7, "U", None, "c3", "free"),  # non-transactional
    ]
    committed, pending = txn_complete_filter(_frame(spark, rows))
    got = {(r.seq, r.text) for r in committed.collect()}
    assert got == {(2, "a"), (3, "b"), (7, "free")}
    assert [(r.seq, r.text) for r in pending.collect()] == [(6, "dangling")]


def test_txn_complete_filter_no_boundary_rows_leak(spark):
    rows = [
        (1, "B", 10, None, None),
        (2, "U", 10, "c1", "a"),
        (3, "C", 10, None, None),
    ]
    committed, pending = txn_complete_filter(_frame(spark, rows))
    ops = {r.op for r in committed.collect()} | {r.op for r in pending.collect()}
    assert "B" not in ops and "C" not in ops


def test_txn_group_orders_and_drops_open_txns(spark):
    rows = [
        (3, "U", 10, "c1", "second"),
        (1, "U", 10, "c1", "first"),
        (4, "C", 10, None, None),
        (6, "U", 11, "c2", "open"),  # uncommitted: dropped
    ]
    out = {r.txn_id: r for r in txn_group(_frame(spark, rows)).collect()}
    assert set(out) == {10}
    g = out[10]
    assert g.n_events == 2
    assert (g.min_seq, g.max_seq) == (1, 3)
    assert g.merged == "first,second"


def _gate_batch(spark, rows):
    """A driver-local micro-batch of the transactional feed from
    ``(seq, op, txn_id, conv_id, turn_idx, text)`` tuples; marker rows
    carry no key."""
    ts = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (seq, op, ts, conv, turn, "user", text, None, "f", seq, None, txn)
            for seq, op, txn, conv, turn, text in rows
        ],
        CHANGE_EVENTS_TXN,
    )


def _gate_pipeline(spark, tmp_path):
    return CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"),
        n_buckets=4, txn_consistent=True,
    )


def _applied(p):
    if not p.table.exists():
        return []
    return sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in p.table.read().select("conv_id", "turn_idx", "text").collect()
    )


def _held(p):
    return sorted((r.txn_id, r.n_events) for r in p.pending_report().collect())


def test_txn_gate_holds_until_commit_across_batches(spark, tmp_path):
    p = _gate_pipeline(spark, tmp_path)
    # batch 1: txn 10 data only (held), txn 20 data+commit (applies), and
    # a non-transactional row (applies)
    p.apply_batch(_gate_batch(spark, [
        (1, "U", 10, "c1", 0, "a"),
        (2, "U", 20, "c2", 0, "x"),
        (3, "C", 20, None, None, None),
        (4, "U", None, "c3", 0, "free"),
    ]), batch_id=0)
    assert _applied(p) == [("c2", 0, "x"), ("c3", 0, "free")]
    assert _held(p) == [(10, 1)]
    # batch 2: more txn 10 data + its commit → the whole txn applies
    p.apply_batch(_gate_batch(spark, [
        (5, "U", 10, "c1", 1, "b"), (6, "C", 10, None, None, None),
    ]), batch_id=1)
    assert _applied(p) == [
        ("c1", 0, "a"), ("c1", 1, "b"), ("c2", 0, "x"), ("c3", 0, "free")
    ]  # boundary rows consumed: no key-less row reached the table
    assert _held(p) == []


def test_txn_gate_straggler_after_commit_passes(spark, tmp_path):
    p = _gate_pipeline(spark, tmp_path)
    p.apply_batch(_gate_batch(spark, [
        (1, "U", 10, "c1", 0, "a"), (2, "C", 10, None, None, None),
    ]), batch_id=0)
    # a straggler of the already-committed txn 10 one batch later: the
    # carried commit marker (txn_marker_keep) still admits it
    p.apply_batch(_gate_batch(spark, [(3, "U", 10, "c1", 1, "late")]), batch_id=1)
    assert _applied(p) == [("c1", 0, "a"), ("c1", 1, "late")]
    assert _held(p) == []


def test_txn_gate_dangling_txn_never_applies(spark, tmp_path):
    p = _gate_pipeline(spark, tmp_path)
    p.apply_batch(_gate_batch(spark, [
        (1, "U", 10, "c1", 0, "a"), (2, "B", 11, None, None, None),
    ]), batch_id=0)
    p.apply_batch(_gate_batch(spark, [(3, "U", 11, "c2", 0, "also-open")]), batch_id=1)
    assert _applied(p) == []
    # held, not dropped: both open transactions stay visible
    assert _held(p) == [(10, 1), (11, 1)]


def test_pipeline_txn_consistent_end_to_end(spark, tmp_path):
    """Full CDC replay with transaction-delimited feed: only committed
    transactions' events reach the table (dangling ones never apply),
    holding works across micro-batches, and replay stays idempotent."""
    from nifi_spark.feedgen import (
        generate_change_feed,
        materialize_feed,
        with_transactions,
    )
    from .oracle import assert_final_state_equal, pandas_fold

    SPAN, DANGLING_MOD = 500_000, 7
    feed = generate_change_feed(spark, n_conversations=30, max_turns=6, max_edits=3)
    txn_feed = with_transactions(feed, txn_seq_span=SPAN, dangling_mod=DANGLING_MOD)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(txn_feed, feed_dir, n_segments=3)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=8, txn_consistent=True,
    )
    q = p.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q.awaitTermination()

    pdf = feed.toPandas()
    committed = pdf[(pdf["seq"] // SPAN) % DANGLING_MOD != 0]
    assert len(committed) < len(pdf)  # the scenario really has dangling txns
    got = (
        p.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    assert_final_state_equal(got, pandas_fold(committed))

    # provenance: apply-time accounting is clean under the txn-aware audit
    # (held-over transactions legally apply inside an earlier batch's span)
    from nifi_spark.lineage import lineage_audit
    assert lineage_audit(spark, p.table_path, txn_mode=True).count() == 0

    # replay the drained feed against the same checkpoint: no-op
    v = p.table.current_version()
    p2 = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=8, txn_consistent=True,
    )
    q2 = p2.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q2.awaitTermination()
    assert p2.table.current_version() == v


def test_pipeline_txn_consistent_json_payload(spark, tmp_path):
    """Same scenario through the raw-JSON normalization path: commit
    markers classify via their payload and are consumed by the gate."""
    from nifi_spark.feedgen import (
        generate_change_feed,
        materialize_feed,
        with_transactions,
    )
    from .oracle import assert_final_state_equal, pandas_fold

    SPAN, DANGLING_MOD = 800_000, 5
    feed = generate_change_feed(spark, n_conversations=20, max_turns=5, max_edits=3)
    txn_feed = with_transactions(feed, txn_seq_span=SPAN, dangling_mod=DANGLING_MOD)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(txn_feed, feed_dir, n_segments=2)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=8, txn_consistent=True, from_json_payload=True,
    )
    q = p.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q.awaitTermination()

    pdf = feed.toPandas()
    committed = pdf[(pdf["seq"] // SPAN) % DANGLING_MOD != 0]
    got = (
        p.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    assert_final_state_equal(got, pandas_fold(committed))


def test_jvm_gate_empty_generation_is_skipped(spark, tmp_path):
    """When a generation's carryover is empty (all transactions committed
    in-batch, markers past their keep TTL), the gate stamps _NROWS=0 and
    the NEXT batch skips the pending read+union entirely (the steady
    state of a quiet feed). txn_marker_keep=0 retires markers instantly
    so the carry is empty whenever transactions close within the batch."""
    import os

    from nifi_spark.feedgen import (
        generate_change_feed,
        materialize_feed,
        with_transactions,
    )

    feed = generate_change_feed(spark, n_conversations=10, max_turns=4, max_edits=2)
    # one transaction per whole segment: every txn commits inside its batch
    txn_feed = with_transactions(feed, txn_seq_span=2_000_000_000)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(txn_feed, feed_dir, n_segments=1)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"),
        n_buckets=4, txn_consistent=True, txn_marker_keep=0,
    )
    q = p.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q.awaitTermination()

    pending = str(tmp_path / "ckpt" / "txn_pending")
    gens = [d for d in os.listdir(pending) if d.startswith("b_")]
    assert gens, "gate must persist a generation per batch"
    for g in gens:
        with open(os.path.join(pending, g, "_NROWS")) as f:
            assert int(f.read().strip()) == 0
        assert p._pending_is_empty(os.path.join(pending, g))
    # all events applied despite the gate: final state matches the fold
    assert p.table.read().count() > 0
