"""LshIndex — incremental (at-ingest) near-dup detection.

The load-bearing invariant: the UNION of per-batch pair outputs over ANY
split of the corpus into ingest batches equals the one-shot
minhash_dedup_pairs over the whole corpus (same ids, same exact jaccard) —
so a pipeline that checks each micro-batch against the index loses nothing
vs a periodic full self-join, at O(batch) instead of O(corpus) per batch.
"""

import functools

import pytest
from pyspark.sql import functions as F

from nifi_spark.operators.dedup_fuzzy import minhash_dedup_pairs
from nifi_spark.operators.dedup_incremental import LshIndex

SF = "/root/testdata/sf0.001"
PARAMS = dict(n_hashes=16, shingle_n=3, n_bands=4, threshold=0.5)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").repartition(8)


@functools.lru_cache(maxsize=1)
def _one_shot(spark):
    return sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(_docs(spark), "doc_id", "text", **PARAMS).collect()
    )


def _drain(idx, docs, splits):
    got = []
    for b, pred in enumerate(splits):
        got += [
            (r.id_a, r.id_b, r.jaccard)
            for r in idx.add_batch(docs.filter(pred), b).collect()
        ]
    return got


@pytest.mark.parametrize(
    "splits",
    [
        ["doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2"],  # even thirds
        ["doc_id < 400", "doc_id >= 400"],  # uneven halves
    ],
    ids=["thirds", "halves"],
)
def test_union_over_batches_equals_one_shot(spark, tmp_path, splits):
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    got = _drain(idx, _docs(spark), splits)
    assert len(got) == len(set(got)), "a pair was emitted twice"
    assert sorted(got) == _one_shot(spark)


def test_replay_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    first = {}
    for b in range(3):
        first[b] = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in idx.add_batch(docs.filter(F.col("doc_id") % 3 == b), b).collect()
        )
    assert idx.committed_batches() == [0, 1, 2]
    # replaying ANY committed batch re-derives its pairs (blind to later
    # batches) and does not duplicate index state
    for b in (2, 0):
        again = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in idx.add_batch(docs.filter(F.col("doc_id") % 3 == b), b).collect()
        )
        assert again == first[b]
    assert idx.committed_batches() == [0, 1, 2]


def test_legacy_flat_layout_refused(spark, tmp_path):
    """An index persisted before the commit manifest — here the flat
    layout (data files directly under batch=N, no pb= dirs), with
    ``bands/`` but no ``_commits/`` — is refused loudly, on the new-batch
    path and on the replay path, instead of probing zero parts."""
    import shutil

    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    idx.add_batch(docs.filter("doc_id < 100"), 0).collect()
    # flatten batch 0 into the legacy layout: move the pb= files up, and
    # drop the manifest the legacy writer never had
    bdir = tmp_path / "lsh" / "bands" / "batch=0"
    for sub in list(bdir.iterdir()):
        if sub.name.startswith("pb="):
            for f in sub.iterdir():
                if f.name.endswith(".parquet"):
                    shutil.move(str(f), str(bdir / f"flat_{f.name}"))
            shutil.rmtree(sub)
    shutil.rmtree(tmp_path / "lsh" / "_commits")
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    with pytest.raises(ValueError, match="predates the commit manifest"):
        idx.add_batch(docs.filter("doc_id >= 100 AND doc_id < 200"), 1)
    with pytest.raises(ValueError, match="predates the commit manifest"):
        idx.add_batch(docs.filter("doc_id < 100"), 0)  # replay path too


def test_empty_batch_resets_pruning_witnesses(spark, tmp_path):
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    idx.add_batch(docs.filter("doc_id < 200"), 0).collect()
    assert idx.last_pb_buckets and idx.last_probe_plan is not None
    idx.add_batch(docs.filter("doc_id < 0"), 1).collect()  # empty batch
    assert idx.last_pb_buckets == [] and idx.last_probe_plan is None
    assert idx.last_sh_buckets == []


def test_uncommitted_low_batch_id_raises(spark, tmp_path):
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    idx.add_batch(docs.filter(F.col("doc_id") < 100), 5, return_pairs=False)
    with pytest.raises(ValueError, match="below committed cursor"):
        idx.add_batch(docs.filter(F.col("doc_id") >= 100), 3)


def test_internal_column_collision_raises(spark, tmp_path):
    docs = _docs(spark).withColumn("sig", F.lit(1))
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    with pytest.raises(ValueError, match="collide"):
        idx.add_batch(docs, 0)


def test_empty_batch_is_harmless(spark, tmp_path):
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    a = idx.add_batch(docs.filter(F.col("doc_id") % 2 == 0), 0).collect()
    mid = idx.add_batch(docs.filter(F.lit(False)), 1).collect()
    assert mid == []
    b = idx.add_batch(docs.filter(F.col("doc_id") % 2 == 1), 2).collect()
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in [*a, *mid, *b])
    assert got == _one_shot(spark)


def test_max_bucket_guard_drops_all_pairs(spark, tmp_path):
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), max_bucket=1, **PARAMS)
    assert idx.add_batch(docs, 0).collect() == []


def test_probe_broadcasts_the_batch_not_the_index(spark, tmp_path):
    """Plan shape: the per-batch probe must broadcast the NEW side; the
    index scan streams through hash joins (no sort-merge of the corpus,
    no cartesian). The probe runs eagerly inside add_batch (its result is
    checkpointed), so its plan is inspected via last_probe_plan; the
    returned verify plan must stay cartesian-free too."""
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    idx.add_batch(docs.filter(F.col("doc_id") < 400), 0, return_pairs=False)
    pairs = idx.add_batch(docs.filter(F.col("doc_id") >= 400), 1)
    plan = idx.last_probe_plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the index side reads only the batch's pb sub-bucket directories:
    # one explicit path per part (batches 0 and 1) and hit sub-bucket
    assert f"InMemoryFileIndex({2 * len(idx.last_pb_buckets)} paths)" in plan
    vplan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in vplan and "BroadcastNestedLoop" not in vplan


def test_cdc_changelog_feeds_at_ingest_neardup(spark, tmp_path):
    """Flagship composition — the at-ingest dedup loop a transcript
    pipeline runs: CDC batches merge into a LakeTable; each commit's
    changelog (the CDC-out read) yields the newly-inserted conversations,
    whose assembled transcripts probe+extend the LSH index. A near-copy
    conversation is flagged IN THE BATCH IT ARRIVES, paired against a
    conversation ingested batches earlier — without re-shingling the
    corpus — and the union over batches equals a one-shot near-dup run
    over the final corpus."""
    from nifi_spark.operators.transcript import assemble_transcripts
    from nifi_spark.sinks.laketable import LakeTable

    def turns(conv, texts):
        return [(i + 1, "I", conv, i, ["user", "assistant"][i % 2], t)
                for i, t in enumerate(texts)]

    base_a = [
        "please summarize the quarterly revenue report for the emea region",
        "the emea region grew twelve percent quarter over quarter driven by cloud",
        "what were the main risks called out in that report",
        "currency headwinds and a slower enterprise pipeline were the main risks",
    ]
    base_b = [
        "write a haiku about distributed systems in autumn",
        "falling leaves of logs / consensus drifts on the wind / quorum finds its rest",
        "now make it about spring instead",
        "green shoots of new nodes / gossip warms the waking mesh / quorum blooms again",
    ]
    uniq = lambda tag: [f"{tag} entirely unrelated conversation turn {i} about {tag}"
                        for i in range(4)]
    # c3 near-copies c0 (one token changed), c4 near-copies c1; convs
    # never span batches (the index contract: a doc id is added once,
    # when its conversation lands)
    batches = {
        1: turns("c0", base_a) + turns("c1", base_b),
        2: turns("c2", uniq("volcanoes")) + turns(
            "c3", base_a[:2] + [base_a[2].replace("main", "key")] + base_a[3:]
        ),
        3: turns("c4", base_b[:2] + base_b[2:]) + turns("c5", uniq("glaciers")),
    }
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    idx = LshIndex(
        spark, str(tmp_path / "lsh"), id_col="conv_id", text_col="transcript",
        **PARAMS,
    )
    schema = "seq long, op string, conv_id string, turn_idx int, role string, text string"
    seen = {}
    prev_v = 0
    for b, rows in batches.items():
        t.merge(spark.createDataFrame(rows, schema), ["conv_id", "turn_idx"],
                batch_id=b)
        v = t.current_version()
        new_turns = t.changes(prev_v, v).filter(F.col("op") == "I").select(
            "conv_id", "turn_idx", "role", "text"
        )
        prev_v = v
        docs = assemble_transcripts(new_turns, tool_col=None).select(
            "conv_id", "transcript"
        )
        seen[b] = sorted(
            (r.id_a, r.id_b) for r in idx.add_batch(docs, b).collect()
        )
    assert seen[1] == []
    assert seen[2] == [("c0", "c3")]   # flagged on arrival, vs batch-1 history
    assert seen[3] == [("c1", "c4")]
    # one-shot over the final corpus agrees
    all_docs = assemble_transcripts(
        t.read().select("conv_id", "turn_idx", "role", "text"), tool_col=None
    ).select("conv_id", F.col("transcript").alias("text"))
    one_shot = sorted(
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(all_docs, "conv_id", "text", **PARAMS).collect()
    )
    assert one_shot == sorted(seen[1] + seen[2] + seen[3])


def _parquet_files(root):
    import os

    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
    return out


def test_compact_preserves_probe_semantics(spark, tmp_path):
    """Compaction merges the covered batch partitions into one (sub-bucket
    layout preserved); later probes and the union invariant are unchanged,
    file counts shrink."""
    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), n_sub_buckets=4, **PARAMS)
    got = _drain(idx, docs, ["doc_id % 4 = 0", "doc_id % 4 = 1", "doc_id % 4 = 2"])
    assert idx.committed_batches() == [0, 1, 2]
    files_before = len(_parquet_files(tmp_path / "lsh" / "bands"))
    merged = idx.compact(n_files=2)
    assert merged == 3
    assert idx.committed_batches() == [2]
    head = idx._head()
    assert head["compacted_upto"] == 2
    compacted = tmp_path / "lsh" / head["parts"][0]["bands"]
    # the folded batch directories are gone; only the compacted part is left
    assert [d.name for d in (tmp_path / "lsh" / "bands").iterdir()] == [compacted.name]
    band_files = _parquet_files(compacted)
    # one file per populated pb sub-bucket (repartitioned by pb), fewer
    # total files than the three uncompacted batch dirs held
    assert 0 < len(band_files) <= 4 < files_before
    # the sub-bucket dirs survive compaction — later probes still prune
    import os

    assert any(n.startswith("pb=") for n in os.listdir(compacted))
    # the next batch probes the compacted index identically
    got += [
        (r.id_a, r.id_b, r.jaccard)
        for r in idx.add_batch(docs.filter("doc_id % 4 = 3"), 3).collect()
    ]
    assert sorted(got) == _one_shot(spark)
    # replay at/below the compaction watermark is gone (expire-snapshots
    # trade) — INCLUDING the target id, whose partition now holds the
    # whole merged history
    for b in (1, 2):
        with pytest.raises(ValueError, match="compaction watermark"):
            idx.add_batch(docs.filter(f"doc_id % 4 = {b}"), b)
    # nothing left to merge at the same cursor
    assert idx.compact(upto=2) == 0


class _Crash(Exception):
    pass


# the scenario the crash harness runs, and every durable write it makes,
# in order: the Spark part writes and the FsIO writes of each call
_SCENARIO = [("add", 0), ("add", 1), ("compact", None), ("add", 2)]
_PUBLISH = ["write_text", "rename_no_overwrite"]
_WRITES = (
    ["mkdirs", "parquet", "parquet", *_PUBLISH]  # add_batch(0): the first
    + ["parquet", "parquet", *_PUBLISH, "delete"]  # add_batch(1)
    # compact(): both sides, the publish, the replaced manifest, then the
    # two folded batch directories of each side
    + ["parquet", "parquet", *_PUBLISH, "delete"] + ["delete"] * 4
    + ["parquet", "parquet", *_PUBLISH, "delete"]  # add_batch(2)
)
_COMMITTED_AFTER = [[0], [0, 1], [1], [1, 2]]


def _step(idx, docs, op, b):
    if op == "compact":
        idx.compact()
        return []
    pairs = idx.add_batch(docs.filter(f"doc_id % 3 = {b}"), b)
    return [(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()]


@pytest.mark.parametrize(
    "k", [None, *range(len(_WRITES))],
    ids=lambda k: "clean" if k is None else f"k{k:02d}-{_WRITES[k]}",
)
def test_index_crash_at_any_write_replays(spark, tmp_path, monkeypatch, k):
    """The k-th durable write of add_batch/compact raises (a crash); a
    fresh LshIndex on the same path sees the head as before the call — or
    as after it, once the manifest is published — and replaying the call
    and the rest of the scenario leaves the same committed batches, the
    pairs of the one-shot operator (none twice), and no data directory
    the head does not name."""
    from pyspark.sql import DataFrameWriter

    from nifi_spark.fsio import FsIO

    seen = []

    def crash_at_k(owner, name):
        orig = getattr(owner, name)

        def write(*a, **kw):
            seen.append(name)
            if len(seen) - 1 == k:
                raise _Crash(f"write {k}: {name}")
            return orig(*a, **kw)

        monkeypatch.setattr(owner, name, write)

    crash_at_k(DataFrameWriter, "parquet")
    for name in ("mkdirs", "write_text", "rename_no_overwrite", "delete", "rename_dir"):
        crash_at_k(FsIO, name)
    docs = _docs(spark)
    root = tmp_path / "lsh"
    idx = LshIndex(spark, str(root), **PARAMS)
    got = []
    for (op, b), after in zip(_SCENARIO, _COMMITTED_AFTER):
        before, start = idx.committed_batches(), len(seen)
        try:
            got += _step(idx, docs, op, b)
        except _Crash:
            published = "rename_no_overwrite" in seen[start:-1]
            idx = LshIndex(spark, str(root), **PARAMS)  # a restarted process
            assert idx.committed_batches() == (after if published else before)
            got += _step(idx, docs, op, b)
        assert idx.committed_batches() == after
    if k is None:
        assert seen == _WRITES
    assert len(got) == len(set(got)), "a pair was emitted twice"
    assert sorted(got) == _one_shot(spark)
    parts = idx._head()["parts"]
    for side in ("bands", "shingles"):
        named = {p[side].split("/", 1)[1] for p in parts}
        assert {d.name for d in (root / side).iterdir()} == named


def test_probe_reads_only_hit_sub_buckets(spark, tmp_path):
    """Scale shape (VERDICT r4 #3): a small batch's probe must read only
    the index files in the sub-buckets its band hashes (and its candidate
    ids) fall into — NOT the whole persisted index. Proof is behavioral:
    after the probe plan is built (file listing done), every index file
    OUTSIDE the recorded pruning sets is deleted from disk; if the scan
    touched them, collect() would fail with missing files."""
    import shutil

    docs = _docs(spark)
    idx = LshIndex(spark, str(tmp_path / "lsh"), n_sub_buckets=64, **PARAMS)
    idx.add_batch(docs.filter("doc_id < 490"), 0, return_pairs=False)
    small = docs.filter("doc_id >= 490")  # 10 docs -> at most 40 of 64 pb
    expected = sorted(
        t for t in _one_shot(spark) if not (t[0] < 490 and t[1] < 490)
    )
    pairs = idx.add_batch(small, 1)
    pbs, sbs = set(idx.last_pb_buckets), set(idx.last_sh_buckets)
    # the tiny batch must not hit every sub-bucket — otherwise the
    # deletions below prove nothing
    assert len(pbs) < 64 and len(sbs) < 64
    removed = 0
    for side, col, keep in (("bands", "pb", pbs), ("shingles", "sb", sbs)):
        base = tmp_path / "lsh" / side / "batch=0"
        for d in base.iterdir():
            if d.name.startswith(f"{col}=") and int(d.name.split("=")[1]) not in keep:
                shutil.rmtree(d)
                removed += 1
    assert removed > 0
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in pairs.collect())
    assert got == expected


def test_index_writes_one_file_per_sub_bucket(spark, tmp_path):
    """Every pb=/sb= directory a batch writes holds exactly one parquet
    file, however many partitions the batch arrives in — a probe and a
    compaction then open one file per sub-bucket and batch."""
    docs = _docs(spark)  # 8 partitions
    idx = LshIndex(spark, str(tmp_path / "lsh"), **PARAMS)
    for b, pred in enumerate(["doc_id < 250", "doc_id >= 250"]):
        idx.add_batch(docs.filter(pred), b).collect()
        for side, col in (("bands", "pb"), ("shingles", "sb")):
            dirs = [
                d for d in (tmp_path / "lsh" / side / f"batch={b}").iterdir()
                if d.name.startswith(f"{col}=")
            ]
            assert dirs
            for d in dirs:
                files = [f for f in d.iterdir() if f.name.endswith(".parquet")]
                assert len(files) == 1, f"{d}: {len(files)} files"


def test_cdc_pipeline_in_stream_near_dup(spark, tmp_path, monkeypatch):
    """VERDICT r4 #5 — LshIndex wired into CdcPipeline: each micro-batch's
    admitted inserts probe+extend the index inside apply_batch; a
    near-copy conversation ingested in batch k is flagged IN batch k;
    flagged pairs land under _near_dups/batch=k; replays produce no
    duplicate pairs; a batch the sink committed but the index never saw
    is healed on replay."""
    import datetime

    from nifi_spark.streaming.job import CdcPipeline

    base_a = [
        "please summarize the quarterly revenue report for the emea region",
        "the emea region grew twelve percent quarter over quarter driven by cloud",
        "what were the main risks called out in that report",
        "currency headwinds and a slower enterprise pipeline were the main risks",
    ]
    base_b = [
        "write a haiku about distributed systems in autumn",
        "falling leaves of logs / consensus drifts on the wind / quorum finds its rest",
        "now make it about spring instead",
        "green shoots of new nodes / gossip warms the waking mesh / quorum blooms again",
    ]
    uniq = lambda tag: [f"{tag} entirely unrelated conversation turn {i} about {tag}"
                        for i in range(4)]
    ts = datetime.datetime(2024, 1, 1)

    def feed(rows, seq0):
        data = [
            (seq0 + i, "I", ts, conv, t_idx, ["user", "assistant"][t_idx % 2],
             text, None, "f", seq0 + i, None)
            for i, (conv, t_idx, text) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data,
            "seq long, op string, ts timestamp, conv_id string, turn_idx int, "
            "role string, text string, tool string, source_file string, "
            "source_pos long, payload_json string",
        )

    def turns(conv, texts):
        return [(conv, i, t) for i, t in enumerate(texts)]

    batches = {
        1: turns("c0", base_a) + turns("c1", base_b),
        2: turns("c2", uniq("volcanoes")) + turns(
            "c3", base_a[:2] + [base_a[2].replace("main", "key")] + base_a[3:]
        ),
        3: turns("c4", base_b) + turns("c5", uniq("glaciers")),
    }
    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4,
        sink_mode="append", near_dup_index=str(tmp_path / "lsh"),
    )
    seen = {}
    for b in (1, 2):
        m = p.apply_batch(feed(batches[b], seq0=b * 100), batch_id=b)
        seen[b] = m["n_near_dups"]
    assert seen == {1: 0, 2: 1}
    nd2 = spark.read.parquet(str(tmp_path / "t" / "_near_dups" / "batch=2")).collect()
    assert [(r.id_a, r.id_b) for r in nd2] == [("c0", "c3")]

    # replay of an applied-and-indexed batch: short-circuits, no dup pairs
    m = p.apply_batch(feed(batches[2], seq0=200), batch_id=2)
    assert m["n_events"] == 0 and "n_near_dups" not in m
    all_nd = spark.read.parquet(str(tmp_path / "t" / "_near_dups")).collect()
    assert len(all_nd) == 1

    # a batch the sink committed but the index never saw (a run that
    # committed the sink before the index step): replaying batch 3, the
    # short-circuit path heals the index and writes the pair once
    with monkeypatch.context() as mp:
        mp.setattr(p, "_near_dup_step", lambda *a: None)
        m = p.apply_batch(feed(batches[3], seq0=300), batch_id=3)
    assert m["version"] is not None and "n_near_dups" not in m
    assert 3 not in p._ndx.committed_batches()
    m = p.apply_batch(feed(batches[3], seq0=300), batch_id=3)
    assert m["n_events"] == 0 and m["n_near_dups"] == 1
    assert 3 in p._ndx.committed_batches()
    all_nd = spark.read.parquet(str(tmp_path / "t" / "_near_dups")).collect()
    assert sorted((r.id_a, r.id_b) for r in all_nd) == [("c0", "c3"), ("c1", "c4")]


def test_near_dup_heal_parses_json_payloads(spark, tmp_path, monkeypatch):
    """The defensive index heal must index the PARSED batch, not the raw
    frame: under from_json_payload the raw batch's top-level text is
    NULL, so an unparsed heal would commit an EMPTY index part and
    the conversations could never be flagged again."""
    import json as _json

    from nifi_spark.streaming.job import CdcPipeline

    text_a = [
        "please summarize the quarterly revenue report for the emea region",
        "the emea region grew twelve percent quarter over quarter driven by cloud",
    ]

    def feed(conv, texts, seq0):
        rows = [
            (
                _json.dumps(
                    {
                        "type": "I", "seq": seq0 + i,
                        "timestamp": "2024-01-01T00:00:00.000Z",
                        "conv_id": conv, "turn_idx": i,
                        "role": ["user", "assistant"][i % 2], "text": t,
                    }
                ),
                "f", seq0 + i,
            )
            for i, t in enumerate(texts)
        ]
        return spark.createDataFrame(
            rows, "payload_json string, source_file string, source_pos long"
        )

    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4,
        sink_mode="append", from_json_payload=True,
        near_dup_index=str(tmp_path / "lsh"),
    )
    p.apply_batch(feed("c0", text_a, 100), batch_id=1)
    near = text_a[:1] + [text_a[1].replace("twelve", "thirteen")]
    m = p.apply_batch(feed("c1", near, 200), batch_id=2)
    assert m["n_near_dups"] == 1
    # the sink commits batch 3 without the index step (a run that
    # committed the sink first) → the heal (the replay short-circuit)
    # must re-parse and derive c2's pairs with c0 and c1
    with monkeypatch.context() as mp:
        mp.setattr(p, "_near_dup_step", lambda *a: None)
        m = p.apply_batch(feed("c2", near, 300), batch_id=3)
    assert m["n_events"] > 0 and 3 not in p._ndx.committed_batches()
    m = p.apply_batch(feed("c2", near, 300), batch_id=3)
    assert m["n_events"] == 0 and m["n_near_dups"] == 2
    assert 3 in p._ndx.committed_batches()


def test_cdc_pipeline_index_compact_cadence(spark, tmp_path):
    """index_compact_every folds the per-batch index partitions on the
    single-writer cadence; later batches still flag pairs vs compacted
    history."""
    import datetime

    from nifi_spark.streaming.job import CdcPipeline

    ts = datetime.datetime(2024, 1, 1)
    base = [
        "please summarize the quarterly revenue report for the emea region",
        "the emea region grew twelve percent quarter over quarter driven by cloud",
        "what were the main risks called out in that report",
        "currency headwinds and a slower enterprise pipeline were the main risks",
    ]
    near = base[:2] + [base[2].replace("main", "key")] + base[3:]
    other = [f"unrelated filler about glaciers number {i} and nothing else {i}"
             for i in range(4)]

    def feed(conv, texts, b):
        return spark.createDataFrame(
            [(b * 10 + i, "I", ts, conv, i, ["user", "assistant"][i % 2], t,
              None, "f", b * 10 + i, None) for i, t in enumerate(texts)],
            "seq long, op string, ts timestamp, conv_id string, turn_idx int, "
            "role string, text string, tool string, source_file string, "
            "source_pos long, payload_json string",
        )

    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4,
        sink_mode="append", near_dup_index=str(tmp_path / "lsh"),
        index_compact_every=2,
    )
    p.apply_batch(feed("k0", base, 1), batch_id=1)
    p.apply_batch(feed("k1", other, 2), batch_id=2)
    # cadence hit after batch 2: partitions 1+2 merged
    assert p._ndx.committed_batches() == [2]
    # batch 3 near-copies k0 (ingested pre-compaction) — still flagged
    m = p.apply_batch(feed("k2", near, 3), batch_id=3)
    assert m["n_near_dups"] == 1
    nd = spark.read.parquet(str(tmp_path / "t" / "_near_dups" / "batch=3")).collect()
    assert [(r.id_a, r.id_b) for r in nd] == [("k0", "k2")]


def test_cdc_pipeline_zero_pair_batch(spark, tmp_path):
    """A batch that flags no pair reports zero, and the pairs of the other
    batches still read back unchanged from ``_near_dups``."""
    import datetime

    from nifi_spark.streaming.job import CdcPipeline

    ts = datetime.datetime(2024, 1, 1)
    base = [
        "please summarize the quarterly revenue report for the emea region",
        "the emea region grew twelve percent quarter over quarter driven by cloud",
        "what were the main risks called out in that report",
        "currency headwinds and a slower enterprise pipeline were the main risks",
    ]
    near = base[:2] + [base[2].replace("main", "key")] + base[3:]
    other = [f"unrelated filler about glaciers number {i} and nothing else {i}"
             for i in range(4)]

    def feed(conv, texts, b):
        return spark.createDataFrame(
            [(b * 10 + i, "I", ts, conv, i, ["user", "assistant"][i % 2], t,
              None, "f", b * 10 + i, None) for i, t in enumerate(texts)],
            "seq long, op string, ts timestamp, conv_id string, turn_idx int, "
            "role string, text string, tool string, source_file string, "
            "source_pos long, payload_json string",
        )

    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"), n_buckets=4,
        sink_mode="append", near_dup_index=str(tmp_path / "lsh"),
    )
    p.apply_batch(feed("k0", base, 1), batch_id=1)
    assert p.apply_batch(feed("k1", near, 2), batch_id=2)["n_near_dups"] == 1
    nd = str(tmp_path / "t" / "_near_dups")
    before = sorted(tuple(r) for r in spark.read.parquet(nd).collect())
    assert [r[:2] for r in before] == [("k0", "k1")]
    assert p.apply_batch(feed("k2", other, 3), batch_id=3)["n_near_dups"] == 0
    assert sorted(tuple(r) for r in spark.read.parquet(nd).collect()) == before
