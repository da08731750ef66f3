"""The micro-batch apply sequence (CdcPipeline.apply_batch), driven on
driver-local frames: the crash points around the sink commit replay to the
independent fold, and the salted hot-key fold runs through both sink
modes."""

import datetime
import json

import pytest
from pyspark.sql import functions as F

from nifi_spark.feedgen import generate_change_feed
from nifi_spark.sinks.laketable import LakeTable
from nifi_spark.streaming.job import CdcPipeline
from tests.oracle import assert_final_state_equal, pandas_fold

SINK_MODES = ["merge", "append"]
TS0 = datetime.datetime(2024, 1, 1)
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SCHEMA = (
    "seq long, op string, ts timestamp, conv_id string, turn_idx int, "
    "role string, text string, tool string, source_file string, "
    "source_pos long, payload_json string"
)
BASE = [
    "please summarize the quarterly revenue report for the emea region",
    "the emea region grew twelve percent quarter over quarter driven by cloud",
    "what were the main risks called out in that report",
    "currency headwinds and a slower enterprise pipeline were the main risks",
]
NEAR = BASE[:2] + [BASE[2].replace("main", "key")] + BASE[3:]


def _turns(spark, convs, seq0, ts=TS0):
    """One insert event per turn of each ``(conv_id, texts)``."""
    rows = []
    for conv, texts in convs:
        for i, t in enumerate(texts):
            seq = seq0 + len(rows)
            rows.append((seq, "I", ts, conv, i, ["user", "assistant"][i % 2],
                         t, None, "f", seq, None))
    return spark.createDataFrame(rows, SCHEMA)


def _filler(tag):
    return [f"unrelated filler about {tag} number {i} and nothing else {i}"
            for i in range(4)]


@pytest.mark.parametrize("sink_mode", SINK_MODES)
def test_index_compaction_waits_for_sink_commit(spark, tmp_path, sink_mode, monkeypatch):
    """A crash in the sink call of the batch that hits the index cadence
    must leave that batch replayable: index compaction runs after the sink
    commit, so it never folds the batch in flight."""
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    kw = dict(n_buckets=4, sink_mode=sink_mode,
              near_dup_index=str(tmp_path / "lsh"), index_compact_every=2)
    b1 = _turns(spark, [("k0", BASE)], 10)
    b2 = _turns(spark, [("k1", NEAR), ("k2", _filler("glaciers"))], 20)

    p = CdcPipeline(spark, *paths, **kw)
    p.apply_batch(b1, batch_id=1)

    def crash(*a, **k):
        raise RuntimeError("crash before the sink commit")

    monkeypatch.setattr(
        p.table, "append_events" if sink_mode == "append" else "merge_events", crash
    )
    with pytest.raises(RuntimeError, match="crash before the sink commit"):
        p.apply_batch(b2, batch_id=2)

    p2 = CdcPipeline(spark, *paths, **kw)  # restarted driver replays batch 2
    m = p2.apply_batch(b2, batch_id=2)
    assert m["n_events"] == 8 and m["n_near_dups"] == 1
    assert p2.table.last_batch_id() == 2
    assert_final_state_equal(
        p2.table.read().select(*COLS).toPandas(),
        pandas_fold(b1.unionByName(b2).toPandas()),
    )


@pytest.mark.parametrize("sink_mode", SINK_MODES)
def test_replay_reapplies_ddl_lost_after_data_commit(spark, tmp_path, sink_mode, monkeypatch):
    """A crash between the data commit and the DDL evolve must not lose
    the column: the replay short-circuit re-applies the batch's DDL."""
    def event(**e):
        return (json.dumps({"timestamp": "2024-01-01T00:00:00.000Z", **e}), "f", e["seq"])

    batch = spark.createDataFrame(
        [
            event(type="I", seq=1, conv_id="c0", turn_idx=0, role="user", text="hi"),
            event(type="ddl", seq=2,
                  text="ALTER TABLE conversations ADD COLUMN note string"),
        ],
        "payload_json string, source_file string, source_pos long",
    )
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    kw = dict(n_buckets=4, sink_mode=sink_mode, from_json_payload=True)
    real_evolve = LakeTable.evolve
    calls = []

    def evolve_crashing_once(self, *a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash before the evolve commit")
        return real_evolve(self, *a, **k)

    monkeypatch.setattr(LakeTable, "evolve", evolve_crashing_once)
    p = CdcPipeline(spark, *paths, **kw)
    with pytest.raises(RuntimeError, match="crash before the evolve commit"):
        p.apply_batch(batch, batch_id=0)

    p2 = CdcPipeline(spark, *paths, **kw)
    m = p2.apply_batch(batch, batch_id=0)
    assert m["n_events"] == 0  # data already committed: a replay
    assert "note" in [f.name for f in p2.table.schema().fields]
    got = p2.table.read().select("conv_id", "text", "note").collect()
    assert [tuple(r) for r in got] == [("c0", "hi", None)]


def test_replay_heal_indexes_rows_committed_on_time(spark, tmp_path):
    """The index heal flags only ``_bad``: the watermark has moved past
    the replayed batch, and re-flagging ``_late`` against it would leave
    rows the sink committed on time out of the healed index partition."""
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    batch = _turns(spark, [("a", BASE), ("b", NEAR)], 10).unionByName(
        _turns(spark, [("z", _filler("volcanoes"))], 50,
               ts=TS0 + datetime.timedelta(hours=1))
    )
    # a run whose sink committed the batch (and advanced the watermark an
    # hour past a and b) but whose index never saw it
    CdcPipeline(spark, *paths, n_buckets=4, watermark_delay_s=60).apply_batch(
        batch, batch_id=0
    )
    p = CdcPipeline(spark, *paths, n_buckets=4, watermark_delay_s=60,
                    near_dup_index=str(tmp_path / "lsh"))
    m = p.apply_batch(batch, batch_id=0)
    assert m["n_events"] == 0 and m["n_near_dups"] == 1
    assert 0 in p._ndx.committed_batches()
    pairs = spark.read.parquet(str(tmp_path / "t" / "_near_dups" / "batch=0"))
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [("a", "b")]


@pytest.mark.parametrize("sink_mode", SINK_MODES)
def test_salted_fold_matches_oracle(spark, tmp_path, sink_mode):
    """``salt_buckets > 1`` folds each batch with the two-phase salted
    LWW fold before either sink; hot keys with many edits per batch must
    still land on the independent fold."""
    feed = generate_change_feed(
        spark, n_conversations=30, max_turns=4, max_edits=3,
        hot_keys=3, hot_extra_edits=12,
    ).cache()
    mid = feed.agg(F.expr("percentile_approx(seq, 0.5)")).collect()[0][0]
    p = CdcPipeline(spark, str(tmp_path / "t"), str(tmp_path / "ck"),
                    n_buckets=4, sink_mode=sink_mode, salt_buckets=4)
    for bid, part in enumerate([feed.filter(F.col("seq") <= mid),
                                feed.filter(F.col("seq") > mid)]):
        m = p.apply_batch(part, batch_id=bid)
        assert m["version"] is not None
    assert_final_state_equal(
        p.table.read().select(*COLS).toPandas(), pandas_fold(feed.toPandas())
    )
    feed.unpersist()


def _stats(table):
    from nifi_spark.operators.mv import transcript_stats_agg

    return sorted(tuple(r) for r in transcript_stats_agg()(table.read()).collect())


def _view(mv):
    return sorted(
        tuple(r) for r in mv.read().select("conv_id", "n_turns", "max_turn", "sum_chars").collect()
    )


def test_view_merge_gets_touched_buckets(spark, tmp_path, monkeypatch):
    """The pipeline's view refresh hands the view merge its touched
    buckets, so the merge never takes its probe path (a cache plus a
    distinct collect over the refreshed rows)."""
    p = CdcPipeline(spark, str(tmp_path / "t"), str(tmp_path / "ck"),
                    n_buckets=4, mv_path=str(tmp_path / "mv"))
    real = p._mv._merge_incremental
    touched = []

    def spy(*a, **k):
        touched.append(k.get("touched"))
        return real(*a, **k)

    monkeypatch.setattr(p._mv, "_merge_incremental", spy)
    p.apply_batch(_turns(spark, [("k0", BASE), ("k1", _filler("glaciers"))], 10), batch_id=1)
    edit = spark.createDataFrame(
        [(40, "U", TS0, "k0", 1, "assistant", "edited", None, "f", 40, None)], SCHEMA
    )
    p.apply_batch(_turns(spark, [("k2", NEAR)], 30).unionByName(edit), batch_id=2)
    assert len(touched) == 1 and touched[0], touched  # the first refresh creates the view
    assert _view(p._mv) == _stats(p.table)


def test_index_compaction_error_fails_batch_after_view_refresh(spark, tmp_path, monkeypatch):
    """Index compaction runs beside the view refresh. Its error fails the
    batch, but the refresh of that batch still commits; the next due
    compaction folds what the failed one left, and the flagged pairs equal
    the one-shot operator's."""
    from nifi_spark.operators.dedup_fuzzy import minhash_dedup_pairs
    from nifi_spark.operators.dedup_incremental import LshIndex
    from nifi_spark.operators.transcript import assemble_transcripts

    p = CdcPipeline(spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4,
                    near_dup_index=str(tmp_path / "lsh"), index_compact_every=1,
                    mv_path=str(tmp_path / "mv"))
    batches = [
        _turns(spark, [("k0", BASE)], 10),
        _turns(spark, [("k1", NEAR), ("k2", _filler("glaciers"))], 20),
        _turns(spark, [("k3", [t.replace("quarterly", "annual") for t in BASE])], 40),
    ]
    p.apply_batch(batches[0], batch_id=1)
    real_compact = LshIndex.compact
    calls = []

    def compact_failing_once(self, *a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("index compaction failed")
        return real_compact(self, *a, **k)

    monkeypatch.setattr(LshIndex, "compact", compact_failing_once)
    with pytest.raises(RuntimeError, match="index compaction failed"):
        p.apply_batch(batches[1], batch_id=2)
    assert p._mv.last_batch_id() == p.table.current_version()
    assert _view(p._mv) == _stats(p.table)
    assert p._ndx.committed_batches() == [1, 2]

    p.apply_batch(batches[2], batch_id=3)
    assert p._ndx.committed_batches() == [3] and p._ndx._head()["compacted_upto"] == 3
    got = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "t" / "_near_dups"))
        .select("id_a", "id_b", "jaccard").collect()
    )
    events = batches[0].unionByName(batches[1]).unionByName(batches[2])
    docs = assemble_transcripts(events, tool_col="tool").select("conv_id", "transcript")
    want = sorted(
        tuple(r) for r in minhash_dedup_pairs(docs, "conv_id", "transcript").collect()
    )
    assert want and got == want


def _txn_events(spark, rows):
    """Transactional events from ``(seq, op, txn_id, conv_id, turn_idx,
    text)``; commit markers (op 'C') carry no key."""
    return spark.createDataFrame(
        [(seq, op, TS0, conv, turn, "user", text, None, "f", seq, None, txn)
         for seq, op, txn, conv, turn, text in rows],
        SCHEMA + ", txn_id long",
    )


@pytest.mark.parametrize("sink_mode", SINK_MODES)
def test_txn_pending_store_durable_before_sink_commit(spark, tmp_path, sink_mode, monkeypatch):
    """A transaction opens in batch 0 and commits in batch 1. The
    pending-store write of batch 0 fails once: the batch must fail before
    its sink commits, or the replay of batch 0 would be a no-op, batch 1
    would never see the carried half of the transaction, and only part
    of it would apply."""
    b0 = _txn_events(spark, [
        (1, "I", 1, "a", 0, "one"), (2, "C", 1, None, None, None),
        (3, "I", 2, "b", 0, "two, first half"),
    ])
    b1 = _txn_events(spark, [
        (4, "I", 2, "b", 1, "two, second half"), (5, "C", 2, None, None, None),
        (6, "I", 3, "c", 0, "three"), (7, "C", 3, None, None, None),
    ])
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    kw = dict(n_buckets=4, sink_mode=sink_mode, txn_consistent=True)
    real_gate = CdcPipeline._txn_gate
    failed = []

    def gate_failing_once(self, flagged, batch_id):
        admitted, persist = real_gate(self, flagged, batch_id)

        def persist_failing_once():
            if not failed:
                failed.append(batch_id)
                raise RuntimeError("pending-store write failed")
            persist()

        return admitted, persist_failing_once

    monkeypatch.setattr(CdcPipeline, "_txn_gate", gate_failing_once)
    p = CdcPipeline(spark, *paths, **kw)
    with pytest.raises(RuntimeError, match="pending-store write failed"):
        p.apply_batch(b0, batch_id=0)
    assert not p.table.exists()  # nothing committed ahead of the carryover

    p2 = CdcPipeline(spark, *paths, **kw)  # restarted driver replays batch 0
    p2.apply_batch(b0, batch_id=0)
    p2.apply_batch(b1, batch_id=1)
    events = b0.unionByName(b1).filter(F.col("op") != "C").toPandas()
    assert_final_state_equal(
        p2.table.read().select(*COLS).toPandas(), pandas_fold(events)
    )
    assert p2.pending_report().count() == 0


def _dlq_rows(spark, table_path):
    return sorted(
        (r.batch_id, r.source_pos, r.reason)
        for r in spark.read.parquet(f"{table_path}/_dlq").collect()
    )


@pytest.mark.parametrize("sink_mode", SINK_MODES)
def test_dlq_rows_survive_crash_after_sink_commit(spark, tmp_path, sink_mode, monkeypatch):
    """A crash between the sink commit and the DLQ write must not lose the
    batch's bad rows: the replay heal re-writes them, and however often
    the batch replays each bad row is in the DLQ once."""
    def event(pos, **e):
        return (json.dumps({"timestamp": "2024-01-01T00:00:00.000Z", **e}), "f", pos)

    batch = spark.createDataFrame(
        [
            event(0, type="I", seq=1, conv_id="c0", turn_idx=0, role="user", text="hi"),
            ("not json at all}", "f", 1),
            event(2, type="U", seq=3),  # no key
        ],
        "payload_json string, source_file string, source_pos long",
    )
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    kw = dict(n_buckets=4, sink_mode=sink_mode, from_json_payload=True)
    real_write = CdcPipeline._write_dlq
    calls = []

    def write_crashing_once(self, *a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash before the DLQ write")
        return real_write(self, *a, **k)

    monkeypatch.setattr(CdcPipeline, "_write_dlq", write_crashing_once)
    p = CdcPipeline(spark, *paths, **kw)
    with pytest.raises(RuntimeError, match="crash before the DLQ write"):
        p.apply_batch(batch, batch_id=0)
    assert p.table.last_batch_id() == 0  # the sink had committed

    want = [(0, 1, "unparseable-or-missing-key"), (0, 2, "unparseable-or-missing-key")]
    for _ in range(2):  # restarted driver replays the batch, then again
        m = CdcPipeline(spark, *paths, **kw).apply_batch(batch, batch_id=0)
        assert m["n_events"] == 0  # a replay: the data is not re-applied
        assert _dlq_rows(spark, paths[0]) == want
    dlq = spark.read.parquet(f"{paths[0]}/_dlq")
    assert set(dlq.columns) == {"batch_id", "payload_json", "source_file", "source_pos", "reason"}


def test_abandoned_txn_dlq_rows_once_after_replay(spark, tmp_path, monkeypatch):
    """The gate's ``txn-abandoned`` DLQ rows are written before the sink
    commits; a crash in the sink replays the whole batch, and the replay
    must not add the abandoned rows a second time."""
    b0 = _txn_events(spark, [(1, "I", 9, "z", 0, "open"), (2, "I", 9, "z", 1, "open")])
    b1 = _txn_events(spark, [(3, "I", 1, "a", 0, "one"), (4, "C", 1, None, None, None)])
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    kw = dict(n_buckets=4, txn_consistent=True, txn_abandon_after_batches=1)
    p = CdcPipeline(spark, *paths, **kw)
    p.apply_batch(b0, batch_id=0)

    def crash(*a, **k):
        raise RuntimeError("crash in the sink")

    monkeypatch.setattr(p.table, "merge_events", crash)
    with pytest.raises(RuntimeError, match="crash in the sink"):
        p.apply_batch(b1, batch_id=1)

    p2 = CdcPipeline(spark, *paths, **kw)
    p2.apply_batch(b1, batch_id=1)
    assert _dlq_rows(spark, paths[0]) == [(1, 1, "txn-abandoned"), (1, 2, "txn-abandoned")]
    assert sorted(tuple(r) for r in p2.table.read().select("conv_id", "text").collect()) == [
        ("a", "one")
    ]


@pytest.mark.parametrize("sink_mode", SINK_MODES)
def test_watermark_survives_crash_after_sink_commit(spark, tmp_path, sink_mode, monkeypatch):
    """The engine watermark rides the batch's sink commit, so a crash
    right after that commit (here: in the lineage write) cannot leave it
    behind: a restarted driver still flags the next batch's old events
    as late."""
    from nifi_spark.streaming import job

    b0 = _turns(spark, [("a", BASE)], 0, ts=TS0 + datetime.timedelta(hours=1))
    b1 = _turns(spark, [("b", NEAR)], 100)  # an hour behind batch 0
    paths = (str(tmp_path / "t"), str(tmp_path / "ck"))
    kw = dict(n_buckets=4, sink_mode=sink_mode, watermark_delay_s=60)
    real_write = job.write_lineage_rows
    calls = []

    def write_crashing_once(*a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash after the sink commit")
        return real_write(*a, **k)

    monkeypatch.setattr(job, "write_lineage_rows", write_crashing_once)
    with pytest.raises(RuntimeError, match="crash after the sink commit"):
        CdcPipeline(spark, *paths, **kw).apply_batch(b0, batch_id=0)

    p = CdcPipeline(spark, *paths, **kw)  # restarted driver
    m = p.apply_batch(b1, batch_id=1)
    assert (m["n_late"], m["n_events"]) == (len(NEAR), 0)
    assert {r.conv_id for r in p.table.read().collect()} == {"a"}


def test_gated_batch_abandoning_nothing_writes_no_dlq(spark, tmp_path):
    """With ``txn_abandon_after_batches`` set, only a batch whose carryover
    can hold an expired transaction writes a ``txn-abandoned`` DLQ
    directory: the gate knows the oldest carried age from the stamp of
    the generation it consumes."""
    import os

    batches = [
        _txn_events(spark, [(1, "I", 9, "z", 0, "open"), (2, "I", 1, "a", 0, "one"),
                            (3, "C", 1, None, None, None)]),
        _txn_events(spark, [(4, "I", 2, "b", 0, "two"), (5, "C", 2, None, None, None)]),
        _txn_events(spark, [(6, "I", 3, "c", 0, "three"), (7, "C", 3, None, None, None)]),
    ]
    path = str(tmp_path / "t")
    p = CdcPipeline(spark, path, str(tmp_path / "ck"), n_buckets=4,
                    txn_consistent=True, txn_abandon_after_batches=2)
    for batch_id, batch in enumerate(batches):
        p.apply_batch(batch, batch_id=batch_id)
    # txn 9 was carried at age 1 after batch 0 and 2 after batch 1: only
    # batch 2 can (and does) abandon it
    assert sorted(os.listdir(f"{path}/_dlq")) == ["batch_id=2"]
    assert _dlq_rows(spark, path) == [(2, 1, "txn-abandoned")]
    assert sorted(r.conv_id for r in p.table.read().collect()) == ["a", "b", "c"]


def test_flat_dlq_layout_is_refused(spark, tmp_path):
    """A dead-letter table holding flat files (the layout before
    per-batch directories) would hide every directory written after it
    from Spark's reader, so the pipeline refuses to start on it."""
    dlq = tmp_path / "t" / "_dlq"
    dlq.mkdir(parents=True)
    (dlq / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="batch_id=<N>/reason=<reason>"):
        CdcPipeline(spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4)



def test_steady_gated_batch_reuses_generated_code(spark, tmp_path):
    """Spark's generated-code cache holds the gated pipeline's plans (txn
    gate, quality checks, near-dup index and its compaction, view refresh,
    merge sink): once two batches have run, a batch of the same shape
    compiles only the ~6 classes whose per-batch literals Spark inlines,
    where a cache smaller than the working set re-compiled ~250 a batch.
    A batch can compile a dozen more when AQE's re-planning, which follows
    the order its stages finish, numbers a codegen stage differently from
    every batch before (seen: 6-22 for the first batch after the warm-up),
    so three batches are measured: the best holds the literal floor and
    none comes near a re-compile of the working set."""
    import random
    import string

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4,
        txn_consistent=True, quality_action="record",
        quality_checks=[{"check": "complete", "column": "conv_id", "min_fraction": 1.0},
                        {"check": "in_range", "column": "turn_idx", "lo": 0, "hi": 63}],
        near_dup_index=str(tmp_path / "lsh"), index_compact_every=1,
        mv_path=str(tmp_path / "mv"),
    )

    def batch(b):
        # txn 10b-1 (opened the batch before) commits; txn 10b holds a
        # near-duplicate pair and eight unrelated conversations, enough
        # to touch every bucket; txn 10b+1 opens
        rng, rows, t = random.Random(b), [], 10 * b

        def add(txn, conv=None, turn=None, text=None):
            rows.append((100 * b + len(rows), "I" if text else "C", txn, conv, turn, text))

        def words():
            return " ".join("".join(rng.choices(string.ascii_lowercase, k=6)) for _ in range(12))

        add(t - 1, f"o{b - 1}", 1, "the open transaction closes here")
        add(t - 1)
        convs = [(f"a{b}", BASE), (f"b{b}", NEAR)]
        convs += [(f"f{b}_{i}", [words() for _ in range(4)]) for i in range(8)]
        for conv, texts in convs:
            for i, text in enumerate(texts):
                add(t, conv, i, text)
        add(t)
        add(t + 1, f"o{b}", 0, "an open transaction starts here")
        return _txn_events(spark, rows)

    for b in (1, 2):
        p.apply_batch(batch(b), batch_id=b)
    compiled = []
    for b in (3, 4, 5):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        m = p.apply_batch(batch(b), batch_id=b)
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
        assert m["n_events"] == 41 and m["n_near_dups"] > 0
    assert min(compiled) <= 10 and max(compiled) <= 50, compiled
