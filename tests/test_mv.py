"""Incremental aggregate-MV maintenance (operators/mv.py).

The contract under test: after each refresh over a changelog range, the
view table equals a from-scratch aggregate of the source's live image —
across inserts, updates, deletes, full-conversation deletion, and a
replayed (idempotent) refresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_spark.operators.mv import refresh_agg_mv
from nifi_spark.sinks.laketable import LakeTable

KEYS = ["conv_id", "turn_idx"]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, conv_id string, turn_idx int, text string"
    )


def _agg(live):
    # live image exposes user columns only (seq is the sink-internal _seq)
    return live.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_turn"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


def _expect(src):
    return {
        r.conv_id: (r.n_turns, r.max_turn, r.sum_chars)
        for r in _agg(src.read()).collect()
    }


def _got(mv):
    return {
        r.conv_id: (r.n_turns, r.max_turn, r.sum_chars)
        for r in mv.read().select("conv_id", "n_turns", "max_turn", "sum_chars").collect()
    }


def test_mv_tracks_source_across_mixed_batches(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=4)
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=4)
    cursor = 0

    src.merge(_batch(spark, [
        (1, "I", "a", 0, "a0"),
        (2, "I", "a", 1, "a1-long"),
        (3, "I", "b", 0, "b0"),
    ]), KEYS, batch_id=1)
    cursor = refresh_agg_mv(src, mv, ["conv_id"], _agg, cursor)
    assert _got(mv) == _expect(src)
    assert _got(mv)["a"] == (2, 1, 2 + 7)

    # update one turn, delete another, add a new conversation
    src.merge(_batch(spark, [
        (4, "U", "a", 1, "a1-v2"),
        (5, "D", "b", 0, None),
        (6, "I", "c", 0, "c0"),
    ]), KEYS, batch_id=2)
    cursor = refresh_agg_mv(src, mv, ["conv_id"], _agg, cursor)
    assert _got(mv) == _expect(src)
    # conversation b is fully gone -> deleted from the view, not zeroed
    assert "b" not in _got(mv)

    # delete the rest of a; c untouched (its view row must survive)
    src.merge(_batch(spark, [
        (7, "D", "a", 0, None),
        (8, "D", "a", 1, None),
    ]), KEYS, batch_id=3)
    cursor = refresh_agg_mv(src, mv, ["conv_id"], _agg, cursor)
    assert _got(mv) == _expect(src) == {"c": (1, 0, 2)}


def test_mv_refresh_is_idempotent_and_skips_empty_range(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=4)
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=4)
    src.merge(_batch(spark, [(1, "I", "a", 0, "a0"), (2, "I", "b", 0, "b0")]),
              KEYS, batch_id=1)
    v1 = refresh_agg_mv(src, mv, ["conv_id"], _agg, 0)
    before = _got(mv)
    # replay the same range: same fold, idempotent batch_id -> no change
    assert refresh_agg_mv(src, mv, ["conv_id"], _agg, 0, to_version=v1) == v1
    assert _got(mv) == before
    # nothing new committed -> cursor unchanged, no write
    mv_ver = mv.current_version()
    assert refresh_agg_mv(src, mv, ["conv_id"], _agg, v1) == v1
    assert mv.current_version() == mv_ver


def test_mv_refresh_spans_multiple_commits(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=4)
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=4)
    src.merge(_batch(spark, [(1, "I", "a", 0, "a0")]), KEYS, batch_id=1)
    src.merge(_batch(spark, [(2, "U", "a", 0, "a0-v2"), (3, "I", "b", 0, "b0")]),
              KEYS, batch_id=2)
    src.merge(_batch(spark, [(4, "D", "b", 0, None)]), KEYS, batch_id=3)
    # one refresh over the whole 3-commit range
    cursor = refresh_agg_mv(src, mv, ["conv_id"], _agg, 0)
    assert cursor == src.current_version()
    assert _got(mv) == _expect(src) == {"a": (1, 0, 5)}


def test_mv_agg_must_keep_keys(spark, tmp_path):
    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=4)
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=4)
    src.merge(_batch(spark, [(1, "I", "a", 0, "a0")]), KEYS, batch_id=1)
    with pytest.raises(ValueError, match="key columns"):
        refresh_agg_mv(src, mv, ["conv_id"],
                       lambda d: d.groupBy().count(), 0)


def test_view_with_fewer_buckets_than_source(spark, tmp_path):
    """The view merge's touched set is the changed keys' buckets in the
    VIEW's layout. A 4-bucket view of a 16-bucket source must equal a
    pandas recompute after inserts, updates and deletes of a key whose
    source bucket (>= 4) names no bucket of the view."""
    import pandas as pd

    from tests.oracle import pandas_fold

    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=16)
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=4)
    convs = [f"c{i}" for i in range(40)]
    src_bucket = {
        r.conv_id: r.b
        for r in spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select("conv_id", src._bucket_col("conv_id").alias("b"))
        .collect()
    }
    hot = next(c for c in convs if src_bucket[c] >= 4)
    batches = [
        [(i * 2 + t, "I", c, t, f"{c} turn {t}") for i, c in enumerate(convs) for t in (0, 1)],
        [(100, "U", hot, 0, "edited"), (101, "D", hot, 1, None)],
        [(200 + i, "U", c, 1, "x" * i) for i, c in enumerate(convs[:9]) if c != hot]
        + [(300, "D", hot, 0, None), (301, "I", convs[-1], 2, "new turn")],
    ]
    cursor, seen = 0, []
    for bid, rows in enumerate(batches, 1):
        seen += rows
        src.merge(_batch(spark, rows), KEYS, batch_id=bid)
        cursor = refresh_agg_mv(src, mv, ["conv_id"], _agg, cursor)
        live = pandas_fold(
            pd.DataFrame(seen, columns=["seq", "op", "conv_id", "turn_idx", "text"])
        )
        want = {
            c: (len(g), int(g.turn_idx.max()), int(g.text.str.len().sum()))
            for c, g in live.groupby("conv_id")
        }
        assert _got(mv) == want, f"view differs after batch {bid}"
    assert hot not in _got(mv)


# --------------------------------------------------------------------------
# Streaming integration: CdcPipeline(mv_path=...) keeps the view live
# --------------------------------------------------------------------------

def _mv_pd(mv):
    return {
        r.conv_id: (r.n_turns, r.max_turn, r.sum_chars)
        for r in mv.read().select("conv_id", "n_turns", "max_turn", "sum_chars").collect()
    }


def _table_stats(table):
    from nifi_spark.operators.mv import transcript_stats_agg

    return {
        r.conv_id: (r.n_turns, r.max_turn, r.sum_chars)
        for r in transcript_stats_agg()(table.read()).collect()
    }


@pytest.mark.parametrize("sink_mode", ["merge", "append"])
def test_pipeline_maintains_live_view(spark, tmp_path, sink_mode):
    from nifi_spark.feedgen import generate_change_feed, materialize_feed
    from nifi_spark.streaming.job import CdcPipeline

    feed = generate_change_feed(spark, n_conversations=40, max_turns=6, max_edits=3)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(feed, feed_dir, n_segments=3)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), n_buckets=8,
        sink_mode=sink_mode, mv_path=str(tmp_path / "view"), mv_refresh_every=1,
    )
    q = p.start(feed_dir, available_now=True, max_files_per_trigger=1)
    q.awaitTermination()

    assert _mv_pd(p._mv) == _table_stats(p.table)
    # the cursor is the view's last committed batch id = the table head
    assert p._mv.last_batch_id() == p.table.current_version()


def test_pipeline_view_survives_restart(spark, tmp_path):
    import os
    import shutil

    from nifi_spark.feedgen import generate_change_feed, materialize_feed
    from nifi_spark.streaming.job import CdcPipeline

    feed = generate_change_feed(spark, n_conversations=30, max_turns=6, max_edits=3)
    seg_dir = str(tmp_path / "segs")
    materialize_feed(feed, seg_dir, n_segments=2)
    parts = sorted(
        f for f in os.listdir(seg_dir) if f.endswith(".parquet") and not f.startswith(".")
    )
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    shutil.copy(os.path.join(seg_dir, parts[0]), feed_dir)

    kw = dict(n_buckets=8, mv_path=str(tmp_path / "view"), mv_refresh_every=1)
    p1 = CdcPipeline(spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), **kw)
    p1.start(feed_dir, available_now=True).awaitTermination()
    assert _mv_pd(p1._mv) == _table_stats(p1.table)

    # restart: fresh pipeline object re-derives the cursor from the view
    shutil.copy(os.path.join(seg_dir, parts[1]), feed_dir)
    p2 = CdcPipeline(spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), **kw)
    p2.start(feed_dir, available_now=True).awaitTermination()
    assert _mv_pd(p2._mv) == _table_stats(p2.table)
    assert p2._mv.last_batch_id() == p2.table.current_version()


def test_pipeline_view_with_txn_gate_and_expiry(spark, tmp_path):
    """Composition: transaction-consistent ingest + inline snapshot
    expiry + live view in one stream. The view must equal the aggregate
    of the COMMITTED-ONLY table, and the MV cursor must stay inside the
    expiry window (refresh_every=1 << expire_keep_n)."""
    from nifi_spark.feedgen import (
        generate_change_feed,
        materialize_feed,
        with_transactions,
    )
    from nifi_spark.streaming.job import CdcPipeline

    feed = generate_change_feed(spark, n_conversations=30, max_turns=6, max_edits=3)
    txn_feed = with_transactions(feed, txn_seq_span=500_000, dangling_mod=7)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(txn_feed, feed_dir, n_segments=3)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), n_buckets=8,
        txn_consistent=True,
        expire_every=1, expire_keep_n=8,
        mv_path=str(tmp_path / "view"), mv_refresh_every=1,
    )
    p.start(feed_dir, max_files_per_trigger=1, available_now=True).awaitTermination()

    assert _mv_pd(p._mv) == _table_stats(p.table)
    assert p._mv.last_batch_id() == p.table.current_version()
    # the view commits one snapshot per refresh; inline expiry must bound
    # ITS commit log too (same cadence/keep_n as the main table)
    mv_live = p._mv._versions()
    assert len(mv_live) <= p.expire_keep_n + p.expire_every + 4, (
        f"view commit log grew unbounded: {len(mv_live)} manifests"
    )
    # the cursor (last_batch_id) must survive expiry — it rides the head
    assert p._mv.last_batch_id() is not None


def test_read_bucket_pruning_and_mv_refresh_prunes(spark, tmp_path):
    """read(buckets=...) must return exactly the rows of those buckets
    and touch only their files; the MV refresh for a 1-conversation
    change must scan fewer files than the whole table."""
    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=8)
    rows = [(i, "I", f"c{i}", 0, f"t{i}") for i in range(1, 33)]
    src.merge(_batch(spark, rows), KEYS, batch_id=1)

    full = src.read()
    all_files = set(full.inputFiles())
    from pyspark.sql import functions as F

    bucket_of = {
        r.conv_id: r.b
        for r in full.select(
            "conv_id",
            F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("b"),
        ).collect()
    }
    pick = bucket_of["c1"]
    pruned = src.read(buckets=[pick])
    assert set(r.conv_id for r in pruned.collect()) == {
        c for c, b in bucket_of.items() if b == pick
    }
    assert len(set(pruned.inputFiles())) < len(all_files)

    # a refresh touching one conversation reads a pruned live image
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=8)
    refresh_agg_mv(src, mv, ["conv_id"], _agg, 0)  # bootstrap the view
    src.merge(_batch(spark, [(100, "U", "c1", 0, "t1-v2")]), KEYS, batch_id=2)
    refresh_agg_mv(src, mv, ["conv_id"], _agg, src.current_version() - 1)
    assert _got(mv) == _expect(src)


# --------------------------------------------------------------------------
# sft_sample_agg: rendered-training-sample view (operators/mv.py)
# --------------------------------------------------------------------------

def _turn_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string",
    )


def _sft_got(mv):
    return {
        r.conv_id: (r.transcript, r.n_turns, r.n_tool_turns, r.total_tokens)
        for r in mv.read().select(
            "conv_id", "transcript", "n_turns", "n_tool_turns", "total_tokens"
        ).collect()
    }


def _sft_expect(src):
    from nifi_spark.operators.mv import sft_sample_agg

    return {
        r.conv_id: (r.transcript, r.n_turns, r.n_tool_turns, r.total_tokens)
        for r in sft_sample_agg()(src.read()).collect()
    }


def test_sft_sample_mv_tracks_renders_and_deletes(spark, tmp_path):
    from nifi_spark.operators.mv import refresh_agg_mv, sft_sample_agg

    src = LakeTable(spark, str(tmp_path / "src"), n_buckets=4)
    mv = LakeTable(spark, str(tmp_path / "mv"), n_buckets=4)
    cursor = 0

    src.merge(_turn_batch(spark, [
        (1, "I", "a", 0, "user", "hello there", None),
        (2, "I", "a", 1, "assistant", "hi", None),
        (3, "I", "b", 0, "user", "bye", None),
    ]), KEYS, batch_id=1)
    cursor = refresh_agg_mv(src, mv, ["conv_id"], sft_sample_agg(), cursor)
    got = _sft_got(mv)
    assert got == _sft_expect(src)
    assert got["a"] == ("user: hello there\nassistant: hi", 2, 0, 3)

    # edit a turn (render must change), tool-call turn added, b vanishes
    src.merge(_turn_batch(spark, [
        (4, "U", "a", 1, "assistant", "hi there", None),
        (5, "I", "a", 2, "tool", "search(q)", "browser"),
        (6, "D", "b", 0, None, None, None),
    ]), KEYS, batch_id=2)
    cursor = refresh_agg_mv(src, mv, ["conv_id"], sft_sample_agg(), cursor)
    got = _sft_got(mv)
    assert got == _sft_expect(src)
    assert got["a"] == (
        "user: hello there\nassistant: hi there\ntool: search(q)", 3, 1, 5,
    )
    assert "b" not in got  # vanished conversation deleted from the view


def test_pipeline_maintains_live_sft_view(spark, tmp_path):
    """Streaming composition: CdcPipeline(mv_agg_fn=sft_sample_agg())
    keeps a rendered-training-sample view live; after the drain it must
    equal a from-scratch assemble over the landed table."""
    from nifi_spark.feedgen import generate_change_feed, materialize_feed
    from nifi_spark.operators.mv import sft_sample_agg
    from nifi_spark.streaming.job import CdcPipeline

    feed = generate_change_feed(spark, n_conversations=40, max_turns=6, max_edits=3)
    feed_dir = str(tmp_path / "feed")
    materialize_feed(feed, feed_dir, n_segments=3)

    p = CdcPipeline(
        spark, str(tmp_path / "table"), str(tmp_path / "ckpt"), n_buckets=8,
        mv_path=str(tmp_path / "view"), mv_refresh_every=1,
        mv_agg_fn=sft_sample_agg(),
    )
    p.start(feed_dir, available_now=True, max_files_per_trigger=1).awaitTermination()

    got = _sft_got(p._mv)
    want = {
        r.conv_id: (r.transcript, r.n_turns, r.n_tool_turns, r.total_tokens)
        for r in sft_sample_agg()(p.table.read()).collect()
    }
    assert got == want
    assert p._mv.last_batch_id() == p.table.current_version()
