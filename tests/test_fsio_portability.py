"""Checkpoint-adjacent state must survive a scheme'd checkpoint dir.

In production the Structured Streaming checkpoint lives on hdfs:// or
s3a:// (driver-failover durability); the engine watermark, txn pending
store, and lineage log sit next to it / next to the table. These tests
run the same scenarios as test_txn.py / test_pipeline.py but through a
``file://`` URI, which FsIO deliberately routes through the Hadoop
FileSystem branch (fsio._local_path) — the branch a real remote
deployment runs. Before round 4 these paths used ``os.*`` and would
silently find no carryover / no watermark / no lineage on any
``scheme://`` location.
"""

import pytest
from pyspark.sql import functions as F

from nifi_spark.feedgen import (
    generate_change_feed,
    materialize_feed,
    with_transactions,
)
from nifi_spark.lineage import lineage_audit, read_lineage, write_lineage_rows
from nifi_spark.streaming.job import CdcPipeline

from .oracle import assert_final_state_equal, pandas_fold


def _file_uri(p) -> str:
    return "file://" + str(p)


def test_txn_gate_survives_file_scheme_checkpoint(spark, tmp_path):
    """JVM pending-store gate with the checkpoint on a file:// URI: the
    carryover generation written by batch N must be FOUND by batch N+1
    (list/exists/read through Hadoop FS), so a transaction spanning
    micro-batches is admitted once its commit marker arrives, and
    dangling transactions never apply."""
    SPAN, DANGLING_MOD = 500_000, 7
    feed = generate_change_feed(spark, n_conversations=30, max_turns=6, max_edits=3)
    txn_feed = with_transactions(feed, txn_seq_span=SPAN, dangling_mod=DANGLING_MOD)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(txn_feed, feed_dir, n_segments=3)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), _file_uri(tmp_path / "ckpt"),
        n_buckets=8, txn_consistent=True,
    )
    q = p.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q.awaitTermination()

    pdf = feed.toPandas()
    committed = pdf[(pdf["seq"] // SPAN) % DANGLING_MOD != 0]
    assert len(committed) < len(pdf)
    got = (
        p.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    # Cross-batch admission happened: strictly more rows than one batch's
    # self-contained transactions could produce, and exactly the committed
    # image — which requires the carryover reads to have worked.
    assert_final_state_equal(got, pandas_fold(committed))
    assert lineage_audit(spark, p.table_path, txn_mode=True).count() == 0

    # replay against the same file:// checkpoint: drained, no new version
    v = p.table.current_version()
    p2 = CdcPipeline(
        spark, str(tmp_path / "table"), _file_uri(tmp_path / "ckpt"),
        n_buckets=8, txn_consistent=True,
    )
    q2 = p2.start(feed_dir, max_files_per_trigger=1, available_now=True)
    q2.awaitTermination()
    assert p2.table.current_version() == v


def test_watermark_survives_file_scheme_checkpoint(spark, tmp_path):
    """The engine watermark a pipeline commits into the table's head
    manifest must be LOADED by a fresh instance (restart semantics), with
    the checkpoint on a file:// URI — late events stay skipped after a
    driver restart."""
    ckpt = _file_uri(tmp_path / "ckpt")
    p = CdcPipeline(
        spark, str(tmp_path / "table"), ckpt, n_buckets=4, watermark_delay_s=60,
    )
    feed = generate_change_feed(
        spark, n_conversations=20, max_turns=4, max_edits=3
    ).cache()
    p.apply_batch(feed, batch_id=0)
    max_ts = feed.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]
    assert p._load_watermark() == max_ts  # store+load across Hadoop FS

    late_events = feed.filter(F.unix_timestamp("ts") < max_ts - 120).withColumn(
        "text", F.lit("SHOULD NOT APPEAR")
    )
    n_late_expected = late_events.count()
    assert n_late_expected > 0

    # fresh instance = restarted driver; watermark must come from the store
    p2 = CdcPipeline(
        spark, str(tmp_path / "table"), ckpt, n_buckets=4, watermark_delay_s=60,
    )
    m = p2.apply_batch(late_events, batch_id=1)
    assert m["n_late"] == n_late_expected
    assert m["n_events"] == 0
    got = p2.table.read().toPandas()
    assert not (got["text"] == "SHOULD NOT APPEAR").any()
    assert_final_state_equal(
        got[["conv_id", "turn_idx", "role", "text", "tool", "ts"]],
        pandas_fold(feed.toPandas()),
    )
    feed.unpersist()


def test_lineage_roundtrip_and_audit_file_scheme_table(spark, tmp_path):
    """read_lineage / lineage_audit over a file:// table path: the
    existence probe must go through FsIO (os.path.isdir is always False
    for a URI), so the audit sees the real records instead of silently
    reporting clean-on-empty."""
    table_path = _file_uri(tmp_path / "t")
    rows = [
        {"batch_id": 0, "snapshot_id": 1, "source_file": "seg-0",
         "min_pos": 0, "max_pos": 9, "min_seq": 0, "max_seq": 9,
         "n_events": 10, "n_late": 0, "committed_at": "x"},
        {"batch_id": 1, "snapshot_id": 2, "source_file": "seg-0",
         "min_pos": 10, "max_pos": 15, "min_seq": 10, "max_seq": 15,
         "n_events": 6, "n_late": 0, "committed_at": "x"},
    ]
    write_lineage_rows(spark, rows, table_path)
    lin = read_lineage(spark, table_path)
    assert lin.count() == 2  # NOT the empty-frame fallback
    assert lineage_audit(spark, table_path).count() == 0

    # a gap is still detected through the remote path
    write_lineage_rows(spark, [
        {"batch_id": 2, "snapshot_id": 3, "source_file": "seg-0",
         "min_pos": 20, "max_pos": 25, "min_seq": 20, "max_seq": 25,
         "n_events": 6, "n_late": 0, "committed_at": "x"},
    ], table_path)
    bad = lineage_audit(spark, table_path).toPandas()
    assert list(bad["violation"]) == ["pos_gap"]

    # an absent table still yields the empty frame, remote or local
    assert read_lineage(spark, _file_uri(tmp_path / "missing")).count() == 0


def test_maxvalue_state_file_scheme(spark, tmp_path):
    """JDBC poll-loop watermark on a scheme path: store/load through
    FsIO, monotonic update preserved across instances (restart)."""
    from nifi_spark.sources.jdbc_incremental import MaxValueState

    p = "file://" + str(tmp_path / "state.json")
    st = MaxValueState(p, spark)
    assert st.get("t", "c") is None
    st.update("t", "c", 5)
    st.update("t", "c", 3)  # non-monotonic value must not regress
    st2 = MaxValueState(p, spark)  # fresh instance = restarted poller
    assert st2.get("t", "c") == 5
    with pytest.raises(ValueError, match="spark handle"):
        MaxValueState("hdfs://nn/state.json")


def test_recursive_listing_same_on_both_branches(spark, tmp_path):
    """``list_names(recursive=True)`` gives every file below a directory
    as a ``/``-joined relative path, the same through ``os.walk`` (plain
    path) and Hadoop's ``listFiles`` (``file://``), and [] when absent."""
    from nifi_spark.fsio import FsIO

    for rel in ("_SUCCESS", "_pb=0/a.parquet", "_pb=0/b.parquet", "_pb=12/c.parquet"):
        (tmp_path / "out" / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / "out" / rel).write_bytes(b"")
    want = ["_SUCCESS", "_pb=0/a.parquet", "_pb=0/b.parquet", "_pb=12/c.parquet"]
    for base in (str(tmp_path), _file_uri(tmp_path)):
        io = FsIO(spark, base)
        assert sorted(io.list_names(f"{base}/out", recursive=True)) == want
        assert io.list_names(f"{base}/missing", recursive=True) == []
