"""LakeTable merge semantics: FIXTURES.md §5.4 (delete-then-reinsert),
§5.5 (duplicate-replay idempotency), §5.7 (schema evolution), plus the
stale-update-after-delete hazard from SURVEY.md §7.3."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from nifi_spark.sinks.laketable import LakeTable

KEYS = ["conv_id", "turn_idx"]
TS = dt.datetime(2024, 1, 1)


def _batch(spark, rows, with_meta=False):
    cols = "seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    if with_meta:
        cols += ", tool_meta string"
    return spark.createDataFrame(rows, cols)


def _rows(t):
    return {
        (r.conv_id, r.turn_idx): r.text
        for r in t.read().collect()
    }


def test_merge_insert_update_delete(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    b1 = _batch(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c1", 1, "assistant", "hi", None, TS),
        (3, "I", "c2", 0, "user", "yo", None, TS),
    ])
    v1 = t.merge(b1, KEYS, batch_id=1)
    assert v1 == 1
    assert _rows(t) == {("c1", 0): "hello", ("c1", 1): "hi", ("c2", 0): "yo"}

    b2 = _batch(spark, [
        (4, "U", "c1", 0, "user", "hello v2", None, TS),
        (5, "D", "c2", 0, None, None, None, TS),
        (6, "I", "c3", 0, "system", "new", None, TS),
    ])
    t.merge(b2, KEYS, batch_id=2)
    assert _rows(t) == {("c1", 0): "hello v2", ("c1", 1): "hi", ("c3", 0): "new"}


def test_delete_then_reinsert_across_batches(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), KEYS, batch_id=1)
    t.merge(_batch(spark, [(2, "D", "c1", 0, None, None, None, TS)]), KEYS, batch_id=2)
    assert _rows(t) == {}
    # tombstone loses to higher-seq re-insert
    t.merge(_batch(spark, [(3, "I", "c1", 0, "user", "v3", None, TS)]), KEYS, batch_id=3)
    assert _rows(t) == {("c1", 0): "v3"}


def test_stale_update_after_delete_does_not_resurrect(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), KEYS, batch_id=1)
    t.merge(_batch(spark, [(5, "D", "c1", 0, None, None, None, TS)]), KEYS, batch_id=2)
    # seq=3 < tombstone seq=5 arrives late in a later batch: must be ignored
    t.merge(_batch(spark, [(3, "U", "c1", 0, "user", "stale", None, TS)]), KEYS, batch_id=3)
    assert _rows(t) == {}


def test_duplicate_replay_is_noop(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    b = _batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)])
    assert t.merge(b, KEYS, batch_id=7) is not None
    v = t.current_version()
    # same batch id replayed (foreachBatch retry / restart overlap) → skipped
    assert t.merge(b, KEYS, batch_id=7) is None
    assert t.current_version() == v
    assert t.last_batch_id() == 7
    # stale (smaller) batch id also skipped
    assert t.merge(b, KEYS, batch_id=3) is None


def test_schema_evolution_adds_column(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "old", None, TS)]), KEYS, batch_id=1)
    assert "tool_meta" not in t.read().columns
    b2 = _batch(
        spark,
        [(2, "I", "c2", 0, "user", "new", None, TS, '{"call_id": 2}')],
        with_meta=True,
    )
    t.merge(b2, KEYS, batch_id=2)
    got = {(r.conv_id, r.turn_idx): r.tool_meta for r in t.read().collect()}
    # old rows null, new rows populated; pre-switch data intact
    assert got == {("c1", 0): None, ("c2", 0): '{"call_id": 2}'}
    assert _rows(t) == {("c1", 0): "old", ("c2", 0): "new"}


def test_bucket_pruning_rewrites_only_touched(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=8)
    rows = [(i, "I", f"c{i}", 0, "user", f"t{i}", None, TS) for i in range(1, 33)]
    t.merge(_batch(spark, rows), KEYS, batch_id=1)
    files_v1 = t._bucket_files()
    # update a single key → only its bucket's file list may change
    t.merge(_batch(spark, [(100, "U", "c1", 0, "user", "t1v2", None, TS)]), KEYS, batch_id=2)
    files_v2 = t._bucket_files()
    changed = [b for b in files_v1 if files_v1[b] != files_v2.get(b)]
    assert len(changed) == 1
    assert _rows(t)[("c1", 0)] == "t1v2"
    assert len(_rows(t)) == 32


def test_read_empty_table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "empty"))
    assert not t.exists()
    assert t.last_batch_id() is None
    assert t.read_raw().count() == 0


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    from nifi_spark.sinks.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "tt"), n_buckets=2)
    b1 = spark.createDataFrame(
        [("c1", 0, "hello", 1)], "conv_id string, turn_idx int, text string, seq long"
    ).withColumn("op", F.lit("I"))
    t.merge(b1.select("conv_id", "turn_idx", "seq", "op", "text"), ["conv_id", "turn_idx"], batch_id=0)
    v1 = t.current_version()
    b2 = b1.withColumn("seq", F.lit(2)).withColumn("text", F.lit("edited"))
    t.merge(b2.select("conv_id", "turn_idx", "seq", "op", "text"), ["conv_id", "turn_idx"], batch_id=1)
    assert t.read().collect()[0]["text"] == "edited"
    assert t.read(version=v1).collect()[0]["text"] == "hello"


def test_compact_purges_old_tombstones_and_keeps_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    from nifi_spark.sinks.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "cp"), n_buckets=2)
    rows = [("c%d" % i, 0, i + 1, "I", "t%d" % i) for i in range(10)]
    b1 = spark.createDataFrame(rows, "conv_id string, turn_idx int, seq long, op string, text string")
    t.merge(b1, ["conv_id", "turn_idx"], batch_id=0)
    # delete c0 (seq 100), update c1 (seq 101)
    b2 = spark.createDataFrame(
        [("c0", 0, 100, "D", None), ("c1", 0, 101, "U", "t1b")],
        "conv_id string, turn_idx int, seq long, op string, text string",
    )
    t.merge(b2, ["conv_id", "turn_idx"], batch_id=1)
    before = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert "c0" not in before and before["c1"] == "t1b"
    raw_before = t.read_raw().count()  # includes the c0 tombstone
    assert raw_before == 10

    t.compact(purge_tombstones_below_seq=200)
    after = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert after == before
    assert t.read_raw().count() == 9  # tombstone physically gone
    # a stale pre-delete update must NOT resurrect after purge only because
    # the caller promised (watermark) no event below seq 200 arrives; a
    # NEWER re-insert must still win:
    b3 = spark.createDataFrame(
        [("c0", 0, 300, "I", "reborn")],
        "conv_id string, turn_idx int, seq long, op string, text string",
    )
    t.merge(b3, ["conv_id", "turn_idx"], batch_id=2)
    assert {r["conv_id"]: r["text"] for r in t.read().collect()}["c0"] == "reborn"


# ----------------------------------------------------- metadata scaling


def test_delta_manifests_bounded_and_flatten(spark, tmp_path):
    """200 commits: every manifest lists only its touched buckets (O(touched),
    not O(table files)), the base chain is depth-bounded with periodic
    flattens, and head discovery uses the _latest hint instead of listing."""
    import json

    from nifi_spark.sinks.laketable import MAX_MANIFEST_DEPTH

    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=64)
    # one real merge to create the table with a real schema + real files
    t.merge(_batch(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), KEYS, batch_id=1)
    head = t._manifest()
    # 199 metadata-only commits (the manifest path is pure driver code —
    # exercising it without 199 Spark jobs): each touches 2 of 64 buckets
    all_files = dict(t._resolve_files(t.current_version()))
    for i in range(2, 201):
        b1, b2 = str(i % 64), str((i * 7) % 64)
        fake = {b1: [f"mem://f{i}a.parquet"], b2: [f"mem://f{i}b.parquet"]}
        all_files.update(fake)

        def build(h, fake=fake):
            depth = int(h.get("depth", 0)) + 1
            if depth > MAX_MANIFEST_DEPTH:
                files = dict(t._resolve_files(h["version"]))
                files.update(fake)
                return {"schema": h["schema"], "n_buckets": 64, "files": files,
                        "base": None, "depth": 0, "summary": {"batch_id": None}}
            return {"schema": h["schema"], "n_buckets": 64, "files": fake,
                    "base": h["version"], "depth": depth, "summary": {"batch_id": None}}

        t._commit(t._head(), build)
    assert t.current_version() == 200
    # manifest size is O(touched): delta manifests list exactly 2 buckets
    sizes = []
    for v in (50, 120, 200):
        m = json.loads(open(tmp_path / "t" / "_commits" / f"v{v:08d}.json").read())
        sizes.append(len(m["files"]))
        assert m.get("depth", 0) <= MAX_MANIFEST_DEPTH
    assert all(s <= 66 for s in sizes)  # never the whole table re-listed
    deltas = [s for s in sizes if s == 2]
    assert deltas, "expected delta manifests among sampled versions"
    # resolution equals the incrementally-tracked ground truth
    assert t._resolve_files(200) == all_files
    # cold read cost is bounded: a fresh instance resolves through at most
    # MAX_MANIFEST_DEPTH manifest reads (chain flatten guarantees it)
    t2 = LakeTable(spark, str(tmp_path / "t"), n_buckets=64)
    reads = []
    orig = t2._io.read_text
    t2._io.read_text = lambda p: (reads.append(p), orig(p))[1]
    t2._bucket_files()
    manifest_reads = [p for p in reads if p.endswith(".json")]
    assert len(manifest_reads) <= MAX_MANIFEST_DEPTH + 1
    # _latest hint: head discovery did not list the commit dir
    assert t2.current_version() == 200


def test_expire_snapshots_bounds_metadata(spark, tmp_path):
    """expire_snapshots keeps the newest keep_n (plus their base chains),
    deletes older manifests and unreferenced data files; the head and
    recent time travel stay intact."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    for i in range(1, 9):
        t.merge(
            _batch(spark, [(i, "I", f"c{i}", 0, "user", f"v{i}", None, TS)]),
            KEYS, batch_id=i,
        )
    assert t.current_version() == 8
    stats = t.expire_snapshots(keep_n=3)
    assert stats["manifests_deleted"] >= 1
    assert stats["data_files_deleted"] >= 1
    # head still reads all 8 rows
    assert len(_rows(t)) == 8
    # recent snapshots still time-travel (fresh instance, no caches)
    t2 = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    assert len(t2.read(version=7).collect()) == 7
    assert len(_rows(t2)) == 8
    # expired snapshot's manifest is gone
    versions_left = t2._versions()
    assert 8 in versions_left and len(versions_left) < 8
    # a new merge after expiry still works
    t2.merge(_batch(spark, [(99, "I", "c99", 0, "user", "v99", None, TS)]), KEYS, batch_id=99)
    assert len(_rows(t2)) == 9


def test_type_widening_cow_and_mor(spark, tmp_path):
    """Iceberg-style widening: int payload evolves to long / float to
    double mid-stream; old (narrow) data files are read through the
    widened schema without rewriting."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=4)
    b1 = spark.createDataFrame(
        [(1, "I", "c1", 10, 1.5)], "seq long, op string, k string, n int, x float"
    )
    t.merge(b1, ["k"], batch_id=1)
    assert dict(t.read().dtypes)["n"] == "int"

    # COW merge with widened types
    b2 = spark.createDataFrame(
        [(2, "I", "c2", 5_000_000_000, 2.5)],
        "seq long, op string, k string, n long, x double",
    )
    t.merge(b2, ["k"], batch_id=2)
    got = {r.k: (r.n, r.x) for r in t.read().collect()}
    assert dict(t.read().dtypes) == {"k": "string", "n": "bigint", "x": "double"}
    assert got["c1"] == (10, 1.5) and got["c2"] == (5_000_000_000, 2.5)

    # MOR append with a narrower batch: files stay narrow, reader widens
    b3 = spark.createDataFrame(
        [(3, "I", "c3", 7, 3.5)], "seq long, op string, k string, n int, x float"
    )
    t.append_events(b3, ["k"], batch_id=3)
    got = {r.k: (r.n, r.x) for r in t.read().collect()}
    assert got["c3"] == (7, 3.5) and got["c2"] == (5_000_000_000, 2.5)
    assert dict(t.read().dtypes)["n"] == "bigint"

    # MOR append that widens further is also legal schema-wise
    b4 = spark.createDataFrame(
        [(4, "U", "c1", 11, 9.25)], "seq long, op string, k string, n long, x double"
    )
    t.append_events(b4, ["k"], batch_id=4)
    assert {r.k: r.n for r in t.read().collect()}["c1"] == 11

    # compaction folds all generations under the widened schema
    t.compact()
    assert dict(t.read().dtypes)["n"] == "bigint"
    assert {r.k: (r.n, r.x) for r in t.read().collect()}["c2"] == (5_000_000_000, 2.5)


def test_illegal_type_evolution_raises(spark, tmp_path):
    from nifi_spark.sinks.laketable import SchemaEvolutionError

    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    t.merge(
        spark.createDataFrame([(1, "I", "c1", 1.0)], "seq long, op string, k string, x double"),
        ["k"], batch_id=1,
    )
    # double -> long is a narrowing: refused
    with pytest.raises(SchemaEvolutionError):
        t.merge(
            spark.createDataFrame([(2, "U", "c1", 2)], "seq long, op string, k string, x long"),
            ["k"], batch_id=2,
        )
    # string -> int on a payload col: refused
    t2 = LakeTable(spark, str(tmp_path / "t2"), n_buckets=2)
    t2.merge(
        spark.createDataFrame([(1, "I", "c1", "s")], "seq long, op string, k string, x string"),
        ["k"], batch_id=1,
    )
    with pytest.raises(SchemaEvolutionError):
        t2.merge(
            spark.createDataFrame([(2, "U", "c1", 3)], "seq long, op string, k string, x int"),
            ["k"], batch_id=2,
        )


def test_reopen_adopts_manifest_bucket_count(spark, tmp_path):
    """Re-opening an existing table with a different n_buckets must adopt
    the manifest's layout — otherwise keys hash to different buckets and
    the merge join silently duplicates them."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    t8 = LakeTable(spark, path, n_buckets=8)
    df = spark.createDataFrame(
        [(f"k{i}", 0, f"v{i}", 1) for i in range(50)],
        "conv_id string, turn_idx int, text string, seq long",
    )
    t8.merge_events(df.withColumn("op", F.lit("I")), ["conv_id", "turn_idx"], batch_id=0)

    # reopen with a mismatched constructor value
    t64 = LakeTable(spark, path, n_buckets=64)
    assert t64.n_buckets == 8
    upd = spark.createDataFrame(
        [(f"k{i}", 0, f"v{i}b", 2) for i in range(50)],
        "conv_id string, turn_idx int, text string, seq long",
    )
    t64.merge_events(upd.withColumn("op", F.lit("U")), ["conv_id", "turn_idx"], batch_id=1)

    out = t64.read().select("conv_id", "text").collect()
    assert len(out) == 50  # no duplicated keys across buckets
    assert all(r["text"].endswith("b") for r in out)


def test_rebucket_layout_evolution(spark, tmp_path):
    """rebucket() rewrites the table under a new bucket count: state
    identical, tombstone guard intact, MOR debt folded away, merges keep
    working under the new layout."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=4)
    mk = lambda rows: spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, seq long"
    )
    ins = mk([(f"k{i}", 0, f"v{i}", 1) for i in range(40)])
    t.merge_events(ins.withColumn("op", F.lit("I")), ["conv_id", "turn_idx"], batch_id=0)
    # a delete whose tombstone must survive the rewrite
    t.merge_events(
        mk([("k0", 0, None, 5)]).withColumn("op", F.lit("D")),
        ["conv_id", "turn_idx"], batch_id=1,
    )
    # merge-on-read debt that must fold away
    t.append_events(
        mk([("k1", 0, "v1-mor", 6)]).withColumn("op", F.lit("U")),
        ["conv_id", "turn_idx"], batch_id=2,
    )
    before = {(r.conv_id, r.text) for r in t.read().select("conv_id", "text").collect()}

    v = t.rebucket(16)
    assert t.n_buckets == 16
    m = t._manifest(v)
    assert m["n_buckets"] == 16 and m["mor_buckets"] == [] and m["base"] is None
    after = {(r.conv_id, r.text) for r in t.read().select("conv_id", "text").collect()}
    assert after == before and ("k1", "v1-mor") in after

    # stale update for the deleted key must still lose to the tombstone
    t2 = LakeTable(spark, path)  # fresh open adopts 16
    assert t2.n_buckets == 16
    t2.merge_events(
        mk([("k0", 0, "stale", 3)]).withColumn("op", F.lit("U")),
        ["conv_id", "turn_idx"], batch_id=3,
    )
    assert t2.read().filter(F.col("conv_id") == "k0").count() == 0
    # and a genuinely newer write works under the new layout
    t2.merge_events(
        mk([("k2", 0, "v2-new", 9)]).withColumn("op", F.lit("U")),
        ["conv_id", "turn_idx"], batch_id=4,
    )
    got = t2.read().filter(F.col("conv_id") == "k2").collect()
    assert [r.text for r in got] == ["v2-new"]


MANIFEST_KEYS = {
    "schema", "n_buckets", "key_cols", "files", "base", "depth", "mor_buckets",
    "delta_files", "stats_cols", "file_stats", "summary", "created_at",
    "version", "snapshot_id",
}


def _count_io(t, calls):
    """Record every ``exists`` and ``read_text`` call on ``t``'s FsIO."""
    for name in ("exists", "read_text"):
        orig = getattr(t._io, name)
        setattr(t._io, name, lambda p, _n=name, _o=orig: (calls.append((_n, p)), _o(p))[1])


def _head_reads(calls):
    """(reads of the ``_latest`` hint, ``exists`` calls) among ``calls``."""
    return (
        sum(n == "read_text" and p.endswith("/_commits/_latest") for n, p in calls),
        sum(n == "exists" for n, _ in calls),
    )


@pytest.fixture(scope="module")
def commit_kinds(spark, tmp_path_factory):
    """One commit of every kind, each stamped on top of the last; returns
    kind → the manifest as stored on disk, and under ``"head_reads"``
    kind → (``_latest`` reads, ``exists`` calls) the commit made."""
    import json

    from pyspark.sql import types as T

    root = tmp_path_factory.mktemp("kinds")

    def stored(t, v):
        return json.loads(open(f"{t.path}/_commits/v{v:08d}.json").read())

    def rows(seq, *convs):
        return _batch(spark, [(seq, "I", c, 0, "user", f"{c}@{seq}", None, TS) for c in convs])

    out, calls = {"head_reads": {}}, []
    c = LakeTable(spark, str(root / "created"), n_buckets=4)
    _count_io(c, calls)
    v = c.create(
        rows(0, "c0").drop("op").withColumnRenamed("seq", "_seq"), KEYS,
        summary={"bootstrap_seq": 0, "max_ts_epoch": 7},
    )
    out["create"] = stored(c, v)
    out["head_reads"]["create"] = _head_reads(calls)

    t = LakeTable(spark, str(root / "t"), n_buckets=4)
    _count_io(t, calls)
    steps = [
        ("first_merge", lambda: t.merge_events(
            rows(1, "a", "b"), KEYS, batch_id=1, extra_summary={"max_ts_epoch": 10})),
        ("merge", lambda: t.merge_events(
            rows(2, "a"), KEYS, batch_id=2, extra_summary={"max_ts_epoch": 20})),
        ("append", lambda: t.append_events(
            rows(3, "b", "c", "d"), KEYS, batch_id=3,
            extra_summary=lambda: {"max_ts_epoch": 30})),
        ("compact_buckets", lambda: t.compact_buckets(out["append"]["mor_buckets"])),
        ("evolve", lambda: t.evolve({"note": T.StringType()})),
        ("compact", lambda: t.compact()),
        ("rebucket", lambda: t.rebucket(8)),
        ("append_after", lambda: t.append_events(
            rows(4, "e"), KEYS, batch_id=4, extra_summary={"max_ts_epoch": 40})),
        ("merge_after", lambda: t.merge_events(
            rows(5, "f"), KEYS, batch_id=5, extra_summary={"max_ts_epoch": 50})),
    ]
    for kind, commit in steps:
        calls.clear()
        v = commit()
        out["head_reads"][kind] = _head_reads(calls)
        assert v == t.current_version(), kind
        out[kind] = stored(t, v)
    listed = []
    orig_list = t._io.list_names
    t._io.list_names = lambda p: (listed.append(os.path.relpath(p, t.path)), orig_list(p))[1]
    assert t.expire_snapshots(keep_n=2)["manifests_deleted"] > 0
    t._io.list_names = orig_list
    out["expire_listings"] = listed
    out["expire_flatten"] = stored(t, v - 1)  # the oldest kept, flattened in place
    kept_paths = [
        p for k in t._versions() for fl in t._resolve_files(k).values() for p in fl
    ] + [p for k in t._versions() for p in t._manifest(k)["delta_files"]]
    out["expire_tags"] = (
        set(os.listdir(f"{t.path}/data")),
        {os.path.relpath(p, f"{t.path}/data").split(os.sep)[0] for p in kept_paths},
    )
    assert sorted(r.conv_id for r in t.read().collect()) == list("abcdef")
    return out


@pytest.mark.parametrize("kind,batch_id,max_ts", [
    ("create", None, 7),
    ("first_merge", 1, 10),
    ("append", 3, 30),
    ("merge", 2, 20),
    ("compact_buckets", 3, 30),
    ("compact", 3, 30),
    ("evolve", 3, 30),
    ("rebucket", 3, 30),
    ("expire_flatten", 4, 40),
])
def test_every_commit_kind_stamps_one_manifest_shape(commit_kinds, kind, batch_id, max_ts):
    """Every commit goes through one manifest builder: one key set, and
    the summary a batch committed (its batch id, the engine watermark)
    carried forward by every commit that is not a batch."""
    m = commit_kinds[kind]
    assert set(m) == MANIFEST_KEYS
    assert (m["summary"]["batch_id"], m["summary"]["max_ts_epoch"]) == (batch_id, max_ts)
    if kind in ("create", "first_merge", "compact", "rebucket", "expire_flatten"):
        assert (m["base"], m["depth"]) == (None, 0)  # a full manifest
    else:
        assert m["base"] == m["version"] - 1 and m["depth"] > 0
    if kind == "compact_buckets":
        assert m["mor_buckets"] == [] and m["delta_files"] == []


@pytest.mark.parametrize("kind", [
    "create", "first_merge", "merge", "append", "compact_buckets", "evolve",
    "compact", "rebucket", "append_after", "merge_after",
])
def test_every_commit_kind_reads_the_head_once(commit_kinds, kind):
    """Each write operation discovers the head once, at entry: one read of
    the ``_latest`` hint and one forward-probe ``exists``; its commit
    builds on that head instead of discovering it again."""
    assert commit_kinds["head_reads"][kind] == (1, 1)


def test_expiry_reads_only_the_commit_log(commit_kinds):
    """Expiry over every commit kind lists the commit directory once and
    no data directory, and afterwards ``data/`` holds exactly the tag
    directories of the files the kept manifests resolve to."""
    assert commit_kinds["expire_listings"] == ["_commits"]
    on_disk, kept = commit_kinds["expire_tags"]
    assert on_disk == kept


def test_append_rebases_after_lost_rename(spark, tmp_path):
    """An append whose manifest rename loses to a racer reads the new
    head, rebases onto it and commits at the racer's version + 1; both
    batches' rows stay live."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    t.merge(_batch(spark, [(1, "I", "a", 0, "user", "a1", None, TS)]), KEYS, batch_id=0)
    racer = LakeTable(spark, path, n_buckets=2)
    orig_rename = t._io.rename_no_overwrite
    state = {"n": 0}

    def racing_rename(src, dst):
        state["n"] += 1
        if state["n"] == 1:
            racer.append_events(
                _batch(spark, [(10, "U", "a", 0, "user", "a10", None, TS),
                               (11, "I", "b", 0, "user", "b11", None, TS)]),
                KEYS, batch_id=10,
            )
        return orig_rename(src, dst)

    t._io.rename_no_overwrite = racing_rename
    v = t.append_events(
        _batch(spark, [(12, "I", "c", 0, "user", "c12", None, TS)]), KEYS, batch_id=11
    )
    assert (v, state["n"]) == (3, 2)  # lost v2 to the racer, committed v3
    m2, m3 = t._manifest(2), t._manifest(3)
    assert m3["base"] == 2  # the rebase built on the racer's manifest
    n = len(m2["delta_files"])
    assert m3["delta_files"][:n] == m2["delta_files"] and len(m3["delta_files"]) > n
    assert _rows(LakeTable(spark, path)) == {
        ("a", 0): "a10", ("b", 0): "b11", ("c", 0): "c12"
    }
    assert t.last_batch_id() == 11


@pytest.mark.parametrize("op", ["append", "merge", "compact_buckets"])
def test_rebase_across_a_layout_change_refuses(spark, tmp_path, op):
    """A write staged under one bucket layout must not commit on top of a
    concurrent ``rebucket``: its rows and buckets carry the old bucket ids.
    The operation raises, a re-run commits, and every key reads once. The
    table's keys all sit in bucket 1 of 2, so the merge touches bucket 0,
    which is empty under both layouts (``pmod(h, 8)`` is odd for them)."""
    from nifi_spark.sinks.laketable import CommitConflict

    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    probe = spark.createDataFrame([(f"k{i}",) for i in range(60)], "conv_id string")
    b2 = {r.conv_id: r.b for r in probe.select("conv_id", t._bucket_col("conv_id").alias("b")).collect()}
    old = [k for k, b in b2.items() if b == 1][:12]
    new = [k for k, b in b2.items() if b == 0][:8]
    t.merge(_batch(spark, [(1, "I", k, 0, "user", "v1", None, TS) for k in old]), KEYS, batch_id=0)
    inserts = _batch(spark, [(2, "I", k, 0, "user", "v2", None, TS) for k in new])
    batch = inserts.unionByName(
        _batch(spark, [(2, "U", k, 0, "user", "v2", None, TS) for k in old[:4]])
    )

    def touched():
        return sorted({r[0] for r in inserts.select(t._bucket_col("conv_id")).collect()})

    run = {
        "append": lambda: t.append_events(batch, KEYS, batch_id=1),
        "merge": lambda: t.merge_events(inserts, KEYS, batch_id=1, touched=touched()),
        "compact_buckets": lambda: t.compact_buckets(list(range(t.n_buckets))),
    }[op]
    if op == "compact_buckets":
        t.append_events(batch, KEYS, batch_id=1)
    racer = LakeTable(spark, path)
    orig_rename = t._io.rename_no_overwrite
    state = {"n": 0}

    def racing_rename(src, dst):
        state["n"] += 1
        if state["n"] == 1:
            racer.rebucket(8)
        return orig_rename(src, dst)

    t._io.rename_no_overwrite = racing_rename
    with pytest.raises(CommitConflict, match="layout"):
        run()
    assert run() == t.current_version()
    keys = [r.conv_id for r in LakeTable(spark, path).read().collect()]
    assert sorted(keys) == sorted(old + new)


def test_expiry_spares_a_write_not_yet_committed(spark, tmp_path, monkeypatch):
    """Expiry from a second instance between an append's data write and
    its commit leaves the append's files alone: the append commits and
    every key reads back."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    for i in range(3):
        t.merge(_batch(spark, [(i, "I", f"c{i}", 0, "user", "v", None, TS)]), KEYS, batch_id=i)
    orig = t._write_flat

    def hooked(df, version_tag):
        paths = orig(df, version_tag)
        LakeTable(spark, path).expire_snapshots(keep_n=1)
        return paths

    monkeypatch.setattr(t, "_write_flat", hooked)
    v = t.append_events(
        _batch(spark, [(9, "I", "c9", 0, "user", "v", None, TS)]), KEYS, batch_id=9
    )
    assert v == 4
    assert all(os.path.exists(p) for p in t._manifest(v)["delta_files"])
    assert sorted(k for k, _ in _rows(LakeTable(spark, path))) == ["c0", "c1", "c2", "c9"]


def test_head_found_whatever_the_latest_hint_says(spark, tmp_path):
    """A missing ``_latest`` hint, a garbage one, one naming a missing
    manifest and one lagging the head by two versions all still give the
    true head, on a warm instance and on a fresh one."""
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    t.merge(_batch(spark, [(1, "I", "a", 0, "user", "a1", None, TS)]), KEYS, batch_id=0)
    for i in range(3):  # metadata-only commits: v2..v4
        t.evolve({f"x{i}": T.StringType()})
    hint = tmp_path / "t" / "_commits" / "_latest"
    for content in (None, "garbage", "99", "2"):
        if content is None:
            hint.unlink()
        else:
            hint.write_text(content)
        for table in (t, LakeTable(spark, path)):
            assert table.current_version() == 4, content
            assert table.last_batch_id() == 0, content


def test_create_refuses_an_existing_table_before_writing(spark, tmp_path):
    """``create`` on an existing table raises before it writes any data
    file: no new data directory appears."""
    import os

    from nifi_spark.sinks.laketable import CommitConflict

    path = tmp_path / "t"
    img = spark.createDataFrame(
        [("c1", 0, "x", 1)], "conv_id string, turn_idx int, text string, _seq long"
    )
    LakeTable(spark, str(path), n_buckets=2).create(img, KEYS)
    before = set(os.listdir(path / "data"))
    with pytest.raises(CommitConflict, match="already exists"):
        LakeTable(spark, str(path), n_buckets=2).create(img, KEYS)
    assert set(os.listdir(path / "data")) == before
