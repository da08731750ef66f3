"""Round-2 surfaces: scale guards, EL/RecordPath expansion, commit rebase,
one-shuffle merge plan, Hadoop-FS (file:// URI) table paths."""

from __future__ import annotations

import os
import uuid as pyuuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_spark.functions.el import el
from nifi_spark.functions.recordpath import (
    delete_at_path,
    get_at_path,
    parse_path,
    update_at_path,
)
from nifi_spark.operators.dedup_fuzzy import jaccard_pairs
from nifi_spark.operators.enrich import detect_duplicate, join_enrichment_indexed
from nifi_spark.sinks.laketable import CommitConflict, LakeTable
from nifi_spark.sources.jdbc_incremental import _sql_literal

KEYS = ["conv_id", "turn_idx"]


# ---------- scale guards ----------


def test_jaccard_requires_blocks(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="minhash_dedup_pairs"):
        jaccard_pairs(df, "doc_id", "text", block_cols=None)


def test_jaccard_max_block_drops_degenerate(spark):
    rows = [(i, "x", "the same text here every time") for i in range(10)] + [
        (100 + i, "y", f"distinct text {i} a b") for i in range(2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # block 'x' (10 docs) dropped at max_block=5; block 'y' (2 docs) kept
    pairs = jaccard_pairs(
        df, "doc_id", "text", block_cols=["lang"], threshold=0.0, max_block=5
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101)}


def test_jaccard_grid_split_is_routing_only(spark):
    """n_grid is a partitioning knob: every grid width yields exactly the
    same pair set and jaccard values (each (a,b) meets exactly once)."""
    rows = [
        (i, "en", f"shared prefix tokens one two three {i % 3}")
        for i in range(12)
    ] + [(100 + i, "fr", f"autre texte {i} x y z") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def run(g):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in jaccard_pairs(
                df, "doc_id", "text", block_cols=["lang"],
                threshold=0.3, n_grid=g,
            ).collect()
        }

    base = run(1)
    assert base  # non-degenerate: some pairs exist
    assert run(7) == base
    assert run(32) == base


def test_detect_duplicate_requires_order(spark):
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(ValueError, match="order_col"):
        detect_duplicate(df, F.col("v"))


def test_join_enrichment_indexed_distributed(spark):
    o = spark.createDataFrame(
        [(i, f"o{i}") for i in range(50)], "ord long, oval string"
    ).repartition(7)
    e = spark.createDataFrame(
        [(i, f"e{i}") for i in range(50)], "ord long, eval string"
    ).repartition(3)
    # both sides ordered by the same column -> row i zips with row i
    out = join_enrichment_indexed(o, e, "ord")
    rows = {(r.ord, r.oval, r.eval) for r in out.collect()}
    assert rows == {(i, f"o{i}", f"e{i}") for i in range(50)}


# ---------- jdbc literal safety ----------


def test_sql_literal_escapes():
    assert _sql_literal(100) == "100"
    assert _sql_literal("O'Brien") == "'O''Brien'"
    assert _sql_literal("2024-01-02 03:04:05") == "TIMESTAMP '2024-01-02 03:04:05'"
    assert _sql_literal("plain") == "'plain'"


# ---------- EL round-2 surface ----------


def test_el_round2_semantics(spark):
    df = spark.range(1)
    row = df.select(
        el("lastIndexOf", F.lit("hello"), "z").alias("absent"),
        el("lastIndexOf", F.lit("hello"), "l").alias("last_l"),
        el("padLeft", F.lit("longvalue"), 4, "*").alias("no_trunc"),
        el("escapeCsv", F.lit('a,"b')).alias("csv"),
        el("unescapeCsv", el("escapeCsv", F.lit('a,"b'))).alias("csv_rt"),
        el("math", "round", F.lit(2.5)).alias("half_up"),
        el("math", "round", F.lit(-2.5)).alias("neg_half"),
        el("UUID3", F.lit("name"), F.lit("6ba7b810-9dad-11d1-80b4-00c04fd430c8")).alias("u3"),
        el("UUID5", F.lit("name"), F.lit("6ba7b810-9dad-11d1-80b4-00c04fd430c8")).alias("u5"),
        el("getDelimitedField", F.lit('a,"b,c",d'), 2, ",", True).alias("quoted"),
        el("getDelimitedField", F.lit("a,b"), 9, ",").alias("oob"),
        el("charAt", F.lit("abc"), 1).alias("ch"),
        el("escapeXml", F.lit('<&"> ')).alias("xml"),
        el("unescapeXml", el("escapeXml", F.lit('a<&"b'))).alias("xml_rt"),
    ).collect()[0]
    assert row.absent == -1
    assert row.last_l == 3  # 0-based: 'hello' -> last 'l' at 3
    assert row.no_trunc == "longvalue"  # NiFi pad never truncates
    assert row.csv == '"a,""b"'
    assert row.csv_rt == 'a,"b'
    assert row.half_up == 3 and row.neg_half == -2  # Math.round = floor(x+.5)
    assert row.u3 == str(pyuuid.uuid3(pyuuid.NAMESPACE_DNS, "name"))
    assert row.u5 == str(pyuuid.uuid5(pyuuid.NAMESPACE_DNS, "name"))
    assert row.quoted == '"b,c"'
    assert row.oob is None
    assert row.ch == "b"
    assert row.xml == "&lt;&amp;&quot;&gt; "
    assert row.xml_rt == 'a<&"b'


# ---------- RecordPath nested paths ----------


NESTED = (
    "id int, a struct<b: array<struct<c: string, d: int>>, e: string>"
)


def _nested_df(spark):
    return spark.createDataFrame(
        [(1, {"b": [{"c": "x", "d": 1}, {"c": "y", "d": 2}], "e": "keep"})], NESTED
    )


def test_recordpath_parse():
    assert parse_path("/a/b[*]/c") == [("a", []), ("b", ["*"]), ("c", [])]
    assert parse_path("/a[3]") == [("a", [3])]
    assert parse_path("/a[0..2]") == [("a", [("idx", [0, 1, 2])])]
    assert parse_path("/a[0,2]") == [("a", [("idx", [0, 2])])]
    assert parse_path("/m['k']/v") == [("m", [("key", ["k"])]), ("v", [])]
    assert parse_path("/a[./c = 'x']") == [("a", [("pred", "c", "=", "x")])]
    assert parse_path("//c") == [("**c", [])]
    assert parse_path("//*") == [("***", [])]  # wildcard descendant
    assert parse_path("/a/b/../c") == [("a", []), ("c", [])]  # ParentPath
    assert parse_path("/a/./b") == [("a", []), ("b", [])]  # CurrentFieldPath
    assert parse_path(".") == []  # record root
    assert parse_path("/a/..") == []
    with pytest.raises(ValueError):
        parse_path("/a[?]")  # unknown step form
    with pytest.raises(ValueError):
        parse_path("/..")  # ParentPath above the root


def test_recordpath_wildcard_descendant(spark):
    # '//*' + where_type: every nested string leaf, including through
    # array-of-struct hops (WildcardDescendantPath recurses record arrays)
    out = update_at_path(
        _nested_df(spark), "//*", F.upper, where_type=lambda t: t == T.StringType()
    ).collect()[0]
    assert [e.c for e in out.a.b] == ["X", "Y"]
    assert [e.d for e in out.a.b] == [1, 2]  # non-strings untouched
    assert out.a.e == "KEEP"


def test_recordpath_parent_and_root(spark):
    # ParentPath normalization: /a/e/../e ≡ /a/e
    out = update_at_path(_nested_df(spark), "/a/e/../e", F.upper).collect()[0]
    assert out.a.e == "KEEP"
    # record root: get as struct, update via struct rebuild
    got = get_at_path(_nested_df(spark), ".", "rec").collect()[0]
    assert got.rec.id == 1
    upd = update_at_path(
        _nested_df(spark), ".", lambda r: r.withField("id", r["id"] + 10)
    ).collect()[0]
    assert upd.id == 11
    with pytest.raises(ValueError):
        delete_at_path(_nested_df(spark), ".")


def test_recordpath_update_wildcard(spark):
    out = update_at_path(_nested_df(spark), "/a/b[*]/c", F.upper).collect()[0]
    assert [e.c for e in out.a.b] == ["X", "Y"]
    assert out.a.e == "keep"


def test_recordpath_update_index(spark):
    out = update_at_path(_nested_df(spark), "/a/b[1]/d", lambda c: c + 100).collect()[0]
    assert [e.d for e in out.a.b] == [1, 102]


def test_recordpath_get_and_delete(spark):
    got = get_at_path(_nested_df(spark), "/a/b[*]/c", "cs").collect()[0]
    assert got.cs == ["x", "y"]
    deleted = delete_at_path(_nested_df(spark), "/a/e").collect()[0]
    assert "e" not in deleted.a.asDict()


def test_recordpath_field_wildcard(spark):
    df = spark.createDataFrame(
        [(1, {"x": "p", "y": "q"})], "id int, a struct<x: string, y: string>"
    )
    out = update_at_path(df, "/a/*", F.upper).collect()[0]
    assert out.a.x == "P" and out.a.y == "Q"


def test_recordpath_predicate(spark):
    df = _nested_df(spark)
    # update only elements where c = 'x'
    out = update_at_path(df, "/a/b[./c = 'x']/d", lambda c: c + 10).collect()[0]
    assert [e.d for e in out.a.b] == [11, 2]
    # get filters matching elements
    got = get_at_path(df, "/a/b[./d > 1]/c", "cs").collect()[0]
    assert got.cs == ["y"]


def test_recordpath_multi_index_and_range(spark):
    df = spark.createDataFrame([(1, [10, 20, 30, 40])], "id int, a array<int>")
    out = update_at_path(df, "/a[0,2]", lambda c: c + 1).collect()[0]
    assert out.a == [11, 20, 31, 40]
    out2 = update_at_path(df, "/a[1..2]", lambda c: c * 2).collect()[0]
    assert out2.a == [10, 40, 60, 40]
    got = get_at_path(df, "/a[0,3]", "picked").collect()[0]
    assert got.picked == [10, 40]


def test_recordpath_map_key(spark):
    df = spark.createDataFrame(
        [(1, {"k1": "v1", "k2": "v2"})], "id int, m map<string, string>"
    )
    out = update_at_path(df, "/m['k1']", F.upper).collect()[0]
    assert out.m == {"k1": "V1", "k2": "v2"}
    got = get_at_path(df, "/m['k2']", "v").collect()[0]
    assert got.v == "v2"
    both = get_at_path(df, "/m['k1','k2']", "vs").collect()[0]
    assert both.vs == ["v1", "v2"]


def test_recordpath_wildcard_map_key(spark):
    """['*'] = every map value (transform_values / map_values)."""
    df = spark.createDataFrame(
        [(1, {"k1": "v1", "k2": "v2"})], "id int, m map<string, string>"
    )
    out = update_at_path(df, "/m['*']", F.upper).collect()[0]
    assert out.m == {"k1": "V1", "k2": "V2"}
    got = get_at_path(df, "/m['*']", "vs").collect()[0]
    assert sorted(got.vs) == ["v1", "v2"]
    # nested: every map value's struct field
    df2 = spark.createDataFrame(
        [(1, {"a": {"t": "x"}, "b": {"t": "y"}})],
        "id int, m map<string, struct<t: string>>",
    )
    out2 = update_at_path(df2, "/m['*']/t", F.upper).collect()[0]
    assert {k: v.t for k, v in out2.m.items()} == {"a": "X", "b": "Y"}


def test_recordpath_descendant_through_map_values(spark):
    """//name walks struct-valued maps via an implicit ['*'] step
    (DescendantFieldPath also recurses into record map values)."""
    df = spark.createDataFrame(
        [(1, {"b": {"x": {"c": "m1"}}, "c": "top"})],
        "id int, a struct<b: map<string, struct<c: string>>, c: string>",
    )
    out = update_at_path(df, "//c", F.upper).collect()[0]
    assert out.a.c == "TOP"
    assert {k: v.c for k, v in out.a.b.items()} == {"x": "M1"}
    # scalar-valued maps still stop the walk (values aren't records)
    df2 = spark.createDataFrame(
        [(1, {"c": "scalar"}, "y")], "id int, m map<string,string>, c string"
    )
    out2 = update_at_path(df2, "//c", F.upper).collect()[0]
    assert out2.m == {"c": "scalar"} and out2.c == "Y"


def test_recordpath_descendant(spark):
    df = spark.createDataFrame(
        [(1, {"b": {"c": "x"}, "c": "y"})],
        "id int, a struct<b: struct<c: string>, c: string>",
    )
    # //c matches a.b.c AND a.c -> both updated
    out = update_at_path(df, "//c", F.upper).collect()[0]
    assert out.a.b.c == "X" and out.a.c == "Y"
    # get requires a unique match
    got = get_at_path(df, "/a//b/c", "v").collect()[0]
    assert got.v == "x"
    with pytest.raises(ValueError):
        get_at_path(df, "//c", "v")


# ---------- LakeTable: plan shape, rebase, conflicts, URIs ----------


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, conv_id string, turn_idx int, text string"
    )


def _bucket_keys(spark, t):
    """One conv id per bucket of ``t``, in bucket order."""
    probe = spark.createDataFrame(
        [(f"c{i}",) for i in range(40)], "conv_id string"
    ).withColumn("b", t._bucket_col("conv_id")).collect()
    return [next(r.conv_id for r in probe if r.b == b) for b in range(t.n_buckets)]


def test_merge_events_single_exchange_plan(spark, tmp_path, monkeypatch):
    """Every bucket rewrite hands its file write ONE hash exchange (on
    ``_bucket``) and no join — the fold and the partitioned write reuse
    it: a merge touching a merge-on-read bucket, a merge touching clean
    buckets only, and compact_buckets."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    c0, c1 = _bucket_keys(spark, t)
    t.merge(_batch(spark, [(1, "I", c0, 0, "a"), (2, "I", c1, 0, "b")]), KEYS, batch_id=0)
    t.append_events(_batch(spark, [(3, "U", c0, 0, "a2")]), KEYS, batch_id=1)
    assert t._manifest()["mor_buckets"] == [0]
    plans = []
    real = t._write_partitioned

    def capture(df, tag, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, tag, **kw)

    monkeypatch.setattr(t, "_write_partitioned", capture)
    # merge-on-read bucket, touched set handed in (the pipeline's shape)
    t.merge_events(_batch(spark, [(4, "U", c0, 0, "a3")]), KEYS, batch_id=2, touched=[0])
    # clean bucket, probe path (touched derived by the merge)
    t.merge_events(_batch(spark, [(5, "U", c1, 0, "b2")]), KEYS, batch_id=3)
    t.append_events(_batch(spark, [(6, "U", c0, 0, "a4")]), KEYS, batch_id=4)
    t.compact_buckets([0])
    assert len(plans) == 3
    for plan in plans:
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Join" not in plan, plan
    assert {r.conv_id: r.text for r in t.read().collect()} == {c0: "a4", c1: "b2"}


def test_merge_equal_seq_keeps_table_row(spark, tmp_path):
    """A batch row whose seq equals the table's row for its key loses:
    the table's row stays (the ``s.seq > t._seq`` guard of MERGE INTO),
    whether that row sits in a bucket file or in a merge-on-read delta.
    A strictly newer row still wins and an absent key still inserts."""
    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    c0, c1 = _bucket_keys(spark, t)
    t.merge(_batch(spark, [(5, "I", c0, 0, "base"), (5, "I", c1, 0, "base")]), KEYS, batch_id=0)
    t.append_events(_batch(spark, [(7, "U", c1, 0, "delta")]), KEYS, batch_id=1)
    t.merge_events(
        _batch(spark, [
            (5, "D", c0, 0, None),  # tie with a bucket-file row
            (7, "U", c1, 0, "batch"),  # tie with a delta row
            (5, "U", c0, 1, "new"),  # absent key
        ]),
        KEYS, batch_id=2,
    )
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {(c0, 0): "base", (c1, 0): "delta", (c0, 1): "new"}
    t.merge_events(_batch(spark, [(8, "U", c1, 0, "newer")]), KEYS, batch_id=3)
    assert {r.conv_id: r.text for r in t.read().filter("turn_idx = 0").collect()} == {
        c0: "base", c1: "newer"
    }


def test_commit_rebase_disjoint_buckets(spark, tmp_path):
    """A losing commit rebases onto the new head when buckets are disjoint."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    # find conv ids landing in buckets 0 and 1
    probe = spark.createDataFrame(
        [(f"c{i}",) for i in range(20)], "conv_id string"
    ).withColumn("b", t._bucket_col("conv_id")).collect()
    c0 = next(r.conv_id for r in probe if r.b == 0)
    c1 = next(r.conv_id for r in probe if r.b == 1)
    t.merge(_batch(spark, [(1, "I", c0, 0, "a"), (2, "I", c1, 0, "b")]), KEYS, batch_id=0)

    t2 = LakeTable(spark, path, n_buckets=2)
    orig_rename = t._io.rename_no_overwrite
    state = {"n": 0}

    def racing_rename(src, dst):
        state["n"] += 1
        if state["n"] == 1:
            # competing writer lands the contended version first (bucket of c1)
            t2.merge(_batch(spark, [(10, "U", c1, 0, "b2")]), KEYS, batch_id=10)
        return orig_rename(src, dst)

    t._io.rename_no_overwrite = racing_rename
    v = t.merge(_batch(spark, [(11, "U", c0, 0, "a2")]), KEYS, batch_id=11)
    assert v == 3  # lost v2 race, rebased, committed v3
    rows = {(r.conv_id, r.text) for r in t.read().collect()}
    assert rows == {(c0, "a2"), (c1, "b2")}  # neither writer's update lost


def test_commit_conflict_overlapping_buckets(spark, tmp_path):
    """A losing commit whose buckets overlap the winner must abort."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    probe = spark.createDataFrame(
        [(f"c{i}",) for i in range(20)], "conv_id string"
    ).withColumn("b", t._bucket_col("conv_id")).collect()
    c0 = next(r.conv_id for r in probe if r.b == 0)
    t.merge(_batch(spark, [(1, "I", c0, 0, "a")]), KEYS, batch_id=0)

    t2 = LakeTable(spark, path, n_buckets=2)
    orig_rename = t._io.rename_no_overwrite
    state = {"n": 0}

    def racing_rename(src, dst):
        state["n"] += 1
        if state["n"] == 1:
            t2.merge(_batch(spark, [(10, "U", c0, 0, "theirs")]), KEYS, batch_id=10)
        return orig_rename(src, dst)

    t._io.rename_no_overwrite = racing_rename
    before = set(os.listdir(f"{path}/data"))
    with pytest.raises(CommitConflict, match="re-run merge"):
        t.merge(_batch(spark, [(11, "U", c0, 0, "mine")]), KEYS, batch_id=11)
    # the aborted merge removed its files: the racer's are the only new ones
    assert set(os.listdir(f"{path}/data")) == before | {
        p.split("/")[-3] for fl in t2._manifest()["files"].values() for p in fl
    }
    # winner's update intact; re-running the merge (fresh read) succeeds
    t3 = LakeTable(spark, path, n_buckets=2)
    assert {r.text for r in t3.read().collect()} == {"theirs"}
    t3.merge(_batch(spark, [(11, "U", c0, 0, "mine")]), KEYS, batch_id=11)
    assert {r.text for r in t3.read().collect()} == {"mine"}


def test_compact_aborts_on_concurrent_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, n_buckets=2)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "a")]), KEYS, batch_id=0)
    t2 = LakeTable(spark, path, n_buckets=2)
    orig_rename = t._io.rename_no_overwrite
    state = {"n": 0}

    def racing_rename(src, dst):
        state["n"] += 1
        if state["n"] == 1:
            t2.merge(_batch(spark, [(2, "U", "c1", 0, "b")]), KEYS, batch_id=1)
        return orig_rename(src, dst)

    t._io.rename_no_overwrite = racing_rename
    before = set(os.listdir(f"{path}/data"))
    with pytest.raises(CommitConflict, match="compact"):
        t.compact()
    # the aborted compaction removed its files: the racer's are the only new ones
    assert set(os.listdir(f"{path}/data")) == before | {
        p.split("/")[-3] for fl in t2._manifest()["files"].values() for p in fl
    }
    assert {r.text for r in LakeTable(spark, path, 2).read().collect()} == {"b"}


def test_laketable_file_uri(spark, tmp_path):
    """The Hadoop-FS IO layer works through an explicit file:// URI."""
    t = LakeTable(spark, f"file://{tmp_path}/uri_table", n_buckets=2)
    t.merge(_batch(spark, [(1, "I", "c1", 0, "a"), (2, "U", "c1", 0, "b")]), KEYS, batch_id=0)
    t.merge(_batch(spark, [(3, "U", "c1", 0, "c"), (4, "I", "c2", 1, "d")]), KEYS, batch_id=1)
    rows = {(r.conv_id, r.text) for r in t.read().collect()}
    assert rows == {("c1", "c"), ("c2", "d")}
    assert t.last_batch_id() == 1


def test_json_path_mutate_contract(spark):
    from nifi_spark.functions.el import el, _compile_json_path
    import pytest as _pt

    df = spark.createDataFrame(
        [(1, '{"a":{"b":[1,2]},"c":"x"}'), (2, "not json"), (3, '{"a":{}}'), (4, None)],
        "id long, j string",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            el("jsonPathSet", F.col("j"), "$.c", "y").alias("set_c"),
            el("jsonPathAdd", F.col("j"), "$.a.b", 9).alias("add_b"),
            el("jsonPathPut", F.col("j"), "$.a", "k", 5).alias("put_k"),
            el("jsonPathDelete", F.col("j"), "$.a.b[0]").alias("del_b"),
        ).collect()
    }
    assert rows[1].set_c == '{"a":{"b":[1,2]},"c":"y"}'
    assert rows[1].add_b == '{"a":{"b":[1,2,9]},"c":"x"}'
    assert rows[1].put_k == '{"a":{"b":[1,2],"k":5},"c":"x"}'
    assert rows[1].del_b == '{"a":{"b":[2]},"c":"x"}'
    # unparseable subject -> '' (deliberate softening; the reference throws)
    assert rows[2].set_c == "" and rows[2].del_b == ""
    # path not found -> subject unchanged (ref PathNotFoundException branch)
    assert rows[3].set_c == '{"a":{}}' and rows[3].add_b == '{"a":{}}'
    assert rows[4].set_c is None
    # mutation-type mismatch -> EMPTY (ref catch-all branch :62-66):
    # add to a non-array, put on a non-map
    (tm,) = df.filter("id = 1").select(
        el("jsonPathAdd", F.col("j"), "$.c", 9).alias("add_on_scalar"),
        el("jsonPathPut", F.col("j"), "$.a.b", "k", 5).alias("put_on_array"),
    ).collect()
    assert tm.add_on_scalar == "" and tm.put_on_array == ""
    with _pt.raises(ValueError):
        _compile_json_path("a.b")  # must start with $
    with _pt.raises(ValueError):
        _compile_json_path("$.a[*]")  # wildcards unsupported


def test_json_path_mutate_typed_matches_udf(spark):
    """The Catalyst fast path and the schema-free UDF agree on well-formed
    documents (the fast path's domain)."""
    from nifi_spark.functions.el import json_path_mutate, json_path_mutate_typed

    df = spark.createDataFrame(
        [(1, '{"a":{"b":[1,2]},"c":"x"}'), (2, '{"a":{"b":[]},"c":"y"}')],
        "id long, j string",
    )
    sch = "a struct<b: array<bigint>>, c string"
    cases = [
        ("set", "$.c", "z", None),
        ("add", "$.a.b", 9, None),
        ("put", "$.a", 5, "k"),
        ("delete", "$.a.b[0]", None, None),
        ("set", "$.a.b[1]", 42, None),
    ]
    for mode, path, value, key in cases:
        got = df.select(
            "j",
            json_path_mutate(F.col("j"), mode, path, value, key).alias("u"),
            json_path_mutate_typed(F.col("j"), sch, mode, path, value, key).alias("t"),
        ).collect()
        for r in got:
            if r.u == r.j and "[" in path:
                # UDF treats an out-of-range index as PathNotFound
                # (unchanged); the typed splice has no miss concept —
                # documented domain difference, not compared
                continue
            assert r.u == r.t, (mode, path, r.u, r.t)


def test_get_uri_forms(spark):
    from nifi_spark.functions.el import el, get_uri
    import pytest as _pt

    (r,) = spark.range(1).select(
        el("getUri", "https", "me", "host.io", 8443, "/p", "q=1", "f").alias("u7"),
        el("getUri", "https", None, "host.io", -1, "/p", None, None).alias("u7n"),
    ).collect()
    assert r.u7 == "https://me@host.io:8443/p?q=1#f"
    assert r.u7n == "https://host.io/p"
    # the reference accepts EXACTLY 7 args (GetUriEvaluator.java:46-57)
    with _pt.raises(ValueError):
        get_uri("https", "host.io")
    with _pt.raises(ValueError):
        get_uri("https", "host.io", "/p")
