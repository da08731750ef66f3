"""Merge-on-read path: append_events delta commits, read-side LWW fold,
partial compaction (compact_buckets), and the streaming pipeline's
sink_mode="append" — the O(batch)-per-commit shape a thousand-batch
production stream needs (≙ Iceberg/Hudi MOR, Paimon LSM buckets;
reference consistency bar: PutIceberg.java append-only commit path)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from nifi_spark.feedgen import generate_change_feed, materialize_feed
from nifi_spark.lineage import read_lineage, write_lineage_rows
from nifi_spark.sinks.laketable import CommitConflict, LakeTable
from nifi_spark.streaming.job import CdcPipeline

from .oracle import assert_final_state_equal, pandas_fold

KEYS = ["conv_id", "turn_idx"]
TS = dt.datetime(2024, 1, 1)


def _batch(spark, rows, with_meta=False):
    cols = "seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    if with_meta:
        cols += ", tool_meta string"
    return spark.createDataFrame(rows, cols)


def _rows(t, version=None):
    return {(r.conv_id, r.turn_idx): r.text for r in t.read(version=version).collect()}


def test_append_events_lww_fold_on_read(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "yo", None, TS),
    ]), KEYS, batch_id=1)
    # MOR appends: update, delete, reinsert, stale update — all read-time folded
    t.append_events(_batch(spark, [
        (3, "U", "c1", 0, "user", "hello v2", None, TS),
        (4, "D", "c2", 0, None, None, None, TS),
        (5, "I", "c3", 0, "system", "new", None, TS),
    ]), KEYS, batch_id=2)
    m = t._manifest()
    assert m["mor_buckets"], "append must mark its buckets merge-on-read"
    assert m["key_cols"] == KEYS
    assert _rows(t) == {("c1", 0): "hello v2", ("c3", 0): "new"}
    # stale update (seq 0 < tombstone seq 4) must not resurrect c2/0
    t.append_events(_batch(spark, [
        (0, "U", "c2", 0, "user", "ZOMBIE", None, TS),
        (6, "U", "c1", 0, "user", "hello v3", None, TS),
    ]), KEYS, batch_id=3)
    assert _rows(t) == {("c1", 0): "hello v3", ("c3", 0): "new"}


def test_equal_seq_keeps_the_row_committed_first(spark, tmp_path):
    """On equal ``_seq`` the row committed first wins on every path: the
    copy-on-write merge, the merge-on-read ``read()`` and its compaction
    agree — bucket-file rows beat delta rows, an earlier delta beats a
    later one — and the changelog reports no change for the base keys."""
    def batch(text, keys):
        return _batch(spark, [(5, "I", f"c{k}", 0, "user", text, None, TS) for k in keys])

    cow = LakeTable(spark, str(tmp_path / "cow"), n_buckets=4)
    mor = LakeTable(spark, str(tmp_path / "mor"), n_buckets=4)
    for t in (cow, mor):
        t.merge_events(batch("base", range(20)), KEYS, batch_id=1)
    cow.merge_events(batch("delta", range(30)), KEYS, batch_id=2)
    cow.merge_events(batch("later", range(30)), KEYS, batch_id=3)
    mor.append_events(batch("delta", range(30)), KEYS, batch_id=2)
    mor.append_events(batch("later", range(30)), KEYS, batch_id=3)
    want = {(f"c{k}", 0): "base" if k < 20 else "delta" for k in range(30)}
    assert _rows(cow) == want
    assert _rows(mor) == want
    base_keys = [f"c{k}" for k in range(20)]
    assert mor.changes(1).filter(F.col("conv_id").isin(base_keys)).count() == 0
    mor.compact_buckets(list(range(4)))
    assert not mor._manifest().get("mor_buckets")
    assert _rows(mor) == want


def test_append_is_idempotent_on_batch_replay(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), KEYS, batch_id=1)
    v = t.append_events(
        _batch(spark, [(2, "U", "c1", 0, "user", "v2", None, TS)]), KEYS, batch_id=2
    )
    assert v == 2
    assert t.append_events(
        _batch(spark, [(2, "U", "c1", 0, "user", "DUP", None, TS)]), KEYS, batch_id=2
    ) is None
    assert t.current_version() == 2
    assert _rows(t) == {("c1", 0): "v2"}


def test_append_schema_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), KEYS, batch_id=1)
    t.append_events(
        _batch(spark, [(2, "I", "c2", 0, "user", "v2", None, TS, "meta")], with_meta=True),
        KEYS, batch_id=2,
    )
    out = {
        (r.conv_id, r.turn_idx): r.tool_meta
        for r in t.read().select("conv_id", "turn_idx", "tool_meta").collect()
    }
    assert out == {("c1", 0): None, ("c2", 0): "meta"}


def test_compact_buckets_repays_mor_debt(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [
        (1, "I", "c1", 0, "user", "a", None, TS),
        (2, "I", "c2", 0, "user", "b", None, TS),
        (3, "I", "c3", 0, "user", "c", None, TS),
    ]), KEYS, batch_id=1)
    for i in range(3):  # three delta generations on the same keys
        t.append_events(_batch(spark, [
            (10 + i, "U", "c1", 0, "user", f"a{i}", None, TS),
            (20 + i, "U", "c2", 0, "user", f"b{i}", None, TS),
        ]), KEYS, batch_id=2 + i)
    before = _rows(t)
    assert before == {("c1", 0): "a2", ("c2", 0): "b2", ("c3", 0): "c"}
    mor = [int(b) for b in t._manifest()["mor_buckets"]]
    assert mor
    v = t.compact_buckets(mor)
    assert v == t.current_version()
    m = t._manifest()
    assert m["mor_buckets"] == []
    # each compacted bucket is back to one file; untouched buckets' lists intact
    files = t._bucket_files(v)
    for b in mor:
        assert len(files[str(b)]) == 1
    assert _rows(t) == before
    # time travel to a pre-compaction MOR version still folds correctly
    assert _rows(t, version=v - 1) == before


def test_compact_buckets_conflicts_with_concurrent_append(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=4)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), KEYS, batch_id=1)
    t.append_events(
        _batch(spark, [(2, "U", "c1", 0, "user", "v2", None, TS)]), KEYS, batch_id=2
    )
    mor = [int(b) for b in t._manifest()["mor_buckets"]]
    racer = LakeTable(spark, path, n_buckets=4)
    racer_batch = _batch(spark, [(3, "U", "c1", 0, "user", "v3", None, TS)])
    orig = t._write_partitioned

    def hooked(df, prefix, **kw):
        files = orig(df, prefix, **kw)
        # a racer appends to the compacting bucket after our read, before
        # our commit — its rows would be silently dropped by the rewrite
        racer.append_events(racer_batch, KEYS, batch_id=3)
        return files

    monkeypatch.setattr(t, "_write_partitioned", hooked)
    before = set(os.listdir(f"{path}/data"))
    with pytest.raises(CommitConflict):
        t.compact_buckets(mor)
    # the aborted compaction removed its files: the racer's are the only new ones
    assert set(os.listdir(f"{path}/data")) == before | {
        p.split("/")[-2] for p in racer._manifest()["delta_files"]
    }
    # the racer's write survives; re-running compaction (fresh base) succeeds
    monkeypatch.setattr(t, "_write_partitioned", orig)
    assert _rows(t) == {("c1", 0): "v3"}
    t.compact_buckets([int(b) for b in t._manifest()["mor_buckets"]])
    assert t._manifest()["mor_buckets"] == []
    assert _rows(t) == {("c1", 0): "v3"}


def test_pipeline_append_mode_equals_merge_mode(spark, tmp_path):
    feed = generate_change_feed(
        spark, n_conversations=60, max_turns=8, max_edits=4, ts_jitter_s=3
    )
    feed_dir = str(tmp_path / "feed")
    materialize_feed(feed, feed_dir, n_segments=6, disorder_window=500)
    expected = pandas_fold(feed.toPandas())

    pa = CdcPipeline(
        spark, str(tmp_path / "t_append"), str(tmp_path / "ckpt_a"),
        n_buckets=8, sink_mode="append", compact_every=3,
    )
    q = pa.start(feed_dir, available_now=True)
    q.awaitTermination()
    got = (
        pa.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    assert_final_state_equal(got, expected)
    # the inline compaction cadence ran: MOR debt is bounded, not the whole log
    m = pa.table._manifest()
    files = pa.table._bucket_files(pa.table.current_version())
    max_gen = max(len(v) for v in files.values())
    assert max_gen <= 6 + 1, f"compaction never ran: {max_gen} generations"
    # lineage covers the whole feed exactly once
    lin = read_lineage(spark, str(tmp_path / "t_append")).toPandas()
    assert lin["n_events"].sum() == feed.count()


def test_pipeline_append_resume_is_exactly_once(spark, tmp_path):
    import os
    import shutil

    feed = generate_change_feed(spark, n_conversations=30, max_turns=6, max_edits=3)
    seg_dir = str(tmp_path / "segs")
    materialize_feed(feed, seg_dir, n_segments=2)
    parts = sorted(
        f for f in os.listdir(seg_dir) if f.endswith(".parquet") and not f.startswith(".")
    )
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    shutil.copy(os.path.join(seg_dir, parts[0]), feed_dir)

    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    p1 = CdcPipeline(spark, table_path, ckpt, n_buckets=8, sink_mode="append")
    q = p1.start(feed_dir, available_now=True)
    q.awaitTermination()

    shutil.copy(os.path.join(seg_dir, parts[1]), feed_dir)
    p2 = CdcPipeline(spark, table_path, ckpt, n_buckets=8, sink_mode="append")
    q = p2.start(feed_dir, available_now=True)
    q.awaitTermination()

    got = (
        p2.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    assert_final_state_equal(got, pandas_fold(feed.toPandas()))
    lin = read_lineage(spark, table_path).toPandas()
    assert lin["n_events"].sum() == feed.count()


def test_write_lineage_rows_roundtrip(spark, tmp_path):
    table_path = str(tmp_path / "t")
    rows = [
        {
            "batch_id": 0, "snapshot_id": 1, "source_file": "f0", "min_pos": 0,
            "max_pos": 9, "min_seq": 1, "max_seq": 10, "n_events": 10, "n_late": 0,
            "committed_at": "2024-01-01T00:00:00Z",
        },
        {
            "batch_id": 1, "snapshot_id": 2, "source_file": "f1", "min_pos": 10,
            "max_pos": 19, "min_seq": 11, "max_seq": 20, "n_events": 10, "n_late": 2,
            "committed_at": "2024-01-01T00:00:01Z",
        },
    ]
    write_lineage_rows(spark, rows[:1], table_path)
    write_lineage_rows(spark, rows[1:], table_path)
    write_lineage_rows(spark, [], table_path)  # no-op
    got = read_lineage(spark, table_path).toPandas().sort_values("batch_id")
    assert got["n_events"].tolist() == [10, 10]
    assert got["source_file"].tolist() == ["f0", "f1"]
    assert got["max_seq"].tolist() == [10, 20]


def test_append_mode_dlq_and_late_skip(spark, tmp_path):
    """The fused single-job path still routes unparseable rows to the DLQ
    and skips late events (counted, never merged) — behavior parity with
    the two-job merge path, derived from the same observe() pass."""
    import os

    feed = generate_change_feed(spark, n_conversations=20, max_turns=4, max_edits=3).cache()
    table_path = str(tmp_path / "table")
    p = CdcPipeline(
        spark, table_path, str(tmp_path / "ckpt"),
        n_buckets=4, sink_mode="append", from_json_payload=True,
        watermark_delay_s=60,
    )
    src = feed.select(
        F.when(F.pmod(F.col("seq"), F.lit(17)) == 0, F.lit("{not json"))
        .otherwise(F.col("payload_json")).alias("payload_json"),
        "source_file", "source_pos",
    )
    n_bad = feed.filter(F.pmod(F.col("seq"), F.lit(17)) == 0).count()
    assert n_bad > 0
    m = p.apply_batch(src, batch_id=0)
    assert m["n_dlq"] == n_bad
    assert m["n_events"] == feed.count() - n_bad
    dlq = spark.read.parquet(os.path.join(table_path, "_dlq"))
    assert dlq.count() == n_bad
    assert dlq.filter(F.col("reason").isNull()).count() == 0

    # an all-late second batch: counted, skipped, no new version
    max_ts = feed.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0]
    late = feed.filter(F.unix_timestamp("ts") < max_ts - 120).select(
        "payload_json", "source_file", "source_pos"
    )
    n_late = late.count()
    assert n_late > 0
    v_before = p.table.current_version()
    m2 = p.apply_batch(late, batch_id=1)
    assert m2["n_late"] == n_late and m2["n_events"] == 0
    assert m2["version"] is None
    assert p.table.current_version() == v_before

    # final state: fold of the good (non-corrupted) events only
    good = feed.filter(F.pmod(F.col("seq"), F.lit(17)) != 0)
    got = (
        p.table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    assert_final_state_equal(got, pandas_fold(good.toPandas()))
    feed.unpersist()


def test_randomized_cow_mor_interleaving_matches_oracle(spark, tmp_path):
    """Seeded fuzz over the riskiest surface: random change batches applied
    through randomly interleaved COW merges and MOR appends, with random
    partial/full compactions — after every step the queryable state must
    equal the Python LWW oracle (max-seq winner per key, tombstone wins
    absent a newer re-insert)."""
    import random

    for seed in (7, 21):
        rng = random.Random(seed)
        t = LakeTable(spark, str(tmp_path / f"t{seed}"), n_buckets=4)
        state: dict[tuple[str, int], tuple[int, str | None]] = {}
        seq = 0
        for step in range(10):
            rows = []
            for _ in range(rng.randint(1, 6)):
                seq += 1
                c, ti = f"c{rng.randint(0, 5)}", rng.randint(0, 2)
                op = rng.choice(["I", "U", "D"])
                rows.append((seq, op, c, ti, "user", f"x{seq}", None, TS))
            rng.shuffle(rows)  # in-batch disorder exercises the batch fold
            for s, op, c, ti, *_ in rows:
                k = (c, ti)
                if k not in state or s > state[k][0]:
                    state[k] = (s, None if op == "D" else f"x{s}")
            if rng.random() < 0.5:
                t.merge_events(_batch(spark, rows), KEYS, batch_id=step)
            else:
                t.append_events(_batch(spark, rows), KEYS, batch_id=step)
            if rng.random() < 0.3:
                mor = [int(b) for b in (t._manifest() or {}).get("mor_buckets", [])]
                if mor and rng.random() < 0.5:
                    t.compact_buckets(mor)
                else:
                    t.compact()
            expected = {k: v for k, (_, v) in state.items() if v is not None}
            assert _rows(t) == expected, f"seed={seed} step={step}"
