"""Round-4 plan-shape and portability additions.

Two-phase ANN top-k: the final per-query ranking used to be a single
``row_number() OVER (PARTITION BY query_id)`` — every scored candidate
through one keyed exchange, one reducer task per query. The partial
stage (similarity._partial_topk) must (a) leave results bit-identical
and (b) bound the global exchange's input to ≤ k rows per query per
input partition.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nifi_spark.operators.similarity import (
    _partial_topk,
    cosine,
    cosine_topk,
    cosine_topk_ivf,
    pq_topk,
)

SF = "/root/testdata/sf0.001"


def _ref_exact_topk(emb_pd, query_ids, k):
    """Driver-side numpy reference: per-query exact cosine top-k with the
    engine's rounding and (desc cos, asc id) tie-break."""
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb_pd}
    out = []
    for qid in query_ids:
        qv = vecs[qid]
        scored = []
        for nid, cv in vecs.items():
            if nid == qid:
                continue
            cos = round(float(np.dot(qv, cv) / (np.linalg.norm(qv) * np.linalg.norm(cv))), 6)
            scored.append((nid, cos))
        scored.sort(key=lambda t: (-t[1], t[0]))
        out += [(qid, nid, r + 1, cos) for r, (nid, cos) in enumerate(scored[:k])]
    return sorted(out)


def test_two_phase_topk_identical_to_reference(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(8)
    q = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.cos_sim, 6))
        for r in cosine_topk(q, emb, k=5).collect()
    )
    ref = _ref_exact_topk(emb.collect(), list(range(5)), 5)
    # ranks and ids must match exactly; cos within fp-assoc noise of the
    # numpy fold (the engine's own fold order is pinned by the oracle)
    assert [(a, b, c) for a, b, c, _ in got] == [(a, b, c) for a, b, c, _ in ref]
    for (_, _, _, g), (_, _, _, e) in zip(got, ref):
        assert abs(g - e) < 1e-5


def test_partial_topk_bounds_global_exchange_input(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(8)
    qdf = F.broadcast(
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    scored = (
        qdf.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    n_all = scored.count()
    k, n_q, n_parts = 5, 4, scored.rdd.getNumPartitions()
    pruned = _partial_topk(scored, k, "cos_sim", ascending=False)
    n_pruned = pruned.count()
    assert n_pruned <= k * n_q * n_parts  # the documented bound
    assert n_pruned < n_all  # it actually pruned
    # the survivors contain the true global top-k per query
    top = set(
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(
            emb.filter(F.col("vec_id") < 4), emb, k=k
        ).collect()
    )
    kept = set((r.query_id, r.neighbor_id) for r in pruned.collect())
    assert top <= kept


@pytest.mark.parametrize(
    "build",
    [
        lambda q, c: cosine_topk(q, c, k=5),
        lambda q, c: cosine_topk_ivf(q, c, k=5, n_cells=8, nprobe=4),
        lambda q, c: pq_topk(q, c, k=5, n_codes=16, m=4),
    ],
    ids=["exact", "ivf", "pq"],
)
def test_ann_plans_contain_map_side_prune(spark, build):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = build(emb.filter(F.col("vec_id") < 3), emb)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the partial stage sits below the global window: JVM default is the
    # row_number-over-(query, input-partition) filter (no Python eval);
    # `_ptk_pid` only appears in that pre-cut window
    assert "_ptk_pid" in plan
    assert "MapInPandas" not in plan
    assert out.count() > 0


def test_iceberg_merge_sql_statement_pinned():
    """The never-executed-in-sandbox Iceberg MERGE path: pin the exact
    statement for a 2-key + 2-payload schema (arms, ordering, _deleted
    expression) so a cluster deploy runs known SQL."""
    from nifi_spark.sinks.laketable import iceberg_merge_sql

    sql = iceberg_merge_sql(
        "cat.db.transcripts",
        ["seq", "op", "conv_id", "turn_idx", "role", "text"],
        ["conv_id", "turn_idx"],
    )
    want = """
            MERGE INTO cat.db.transcripts t USING _merge_src s ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.seq > t._seq AND s.op = 'D'
              THEN UPDATE SET t._deleted = true, t._seq = s.seq
            WHEN MATCHED AND s.seq > t._seq
              THEN UPDATE SET t.role = s.role, t.text = s.text, t._seq = s.seq, t._deleted = false
            WHEN NOT MATCHED AND s.op != 'D'
              THEN INSERT (conv_id, turn_idx, role, text, _seq, _deleted) VALUES (s.conv_id, s.turn_idx, s.role, s.text, s.seq, s.op = 'D')
            """
    assert sql == want


def test_changes_rejects_unknown_mode(spark, tmp_path):
    from nifi_spark.sinks.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    df = spark.createDataFrame(
        [(1, "a", 10)], "k int, v string, seq long"
    ).withColumnRenamed("seq", "s")
    t.create(
        df.selectExpr("k", "v", "s as _seq").withColumnRenamed("_seq", "_seq"),
        ["k"],
    )
    with pytest.raises(ValueError, match="mode must be"):
        t.changes(0, mode="dif")  # typo'd mode used to silently run diff


def test_changes_empty_range_column_order_matches(spark, tmp_path):
    """Empty-range and non-empty results must agree on column order even
    when key_cols order differs from schema field order."""
    from nifi_spark.sinks.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), n_buckets=2)
    base = spark.createDataFrame(
        [("r", 1, "x", 5)], "role string, turn int, text string, _seq long"
    )
    # key order (turn, role) — reversed vs schema order (role, turn)
    t.create(base, ["turn", "role"])
    empty_cols = t.changes(t.current_version()).columns
    t.merge_events(
        spark.createDataFrame(
            [(6, "U", 1, "r", "y")], "seq long, op string, turn int, role string, text string"
        ),
        key_cols=["turn", "role"], batch_id=1,
    )
    nonempty_cols = t.changes(0).columns
    assert empty_cols == nonempty_cols


def test_internal_temp_name_collisions_raise(spark):
    from nifi_spark.operators.dedup_fuzzy import (
        jaccard_pairs,
        minhash_signature,
        simhash,
    )
    from nifi_spark.operators.similarity import ivf_assign

    with pytest.raises(ValueError, match="_mh_hs"):
        minhash_signature(
            spark.createDataFrame([("a b c", 1)], "text string, _mh_hs int")
        )
    with pytest.raises(ValueError, match="_sh_th"):
        simhash(spark.createDataFrame([("a b c", 1)], "text string, _sh_th int"))
    with pytest.raises(ValueError, match="_grid"):
        jaccard_pairs(
            spark.createDataFrame(
                [(1, "a b c d", "en", 0)], "doc_id long, text string, lang string, _grid int"
            ),
            block_cols=["lang"],
        )
    with pytest.raises(ValueError, match="_ivf_vn"):
        ivf_assign(
            spark.createDataFrame(
                [([1.0, 0.0], 1)], "embedding array<double>, _ivf_vn int"
            ),
            [(0, [1.0, 0.0])],
        )


def _txn_seg(spark, feed_dir, name, mtime, rows):
    """One FLAT feed segment file with explicit batch boundaries —
    (seq, op, txn_id, conv, turn, text) rows in the CHANGE_EVENTS_TXN
    shape. Explicit mtimes pin the file-stream batch ORDER (the source
    orders by modification time; equal mtimes made the feedgen variant
    of this test order-flaky, changing which txns span batches)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(feed_dir, exist_ok=True)
    seqs = [r[0] for r in rows]
    tbl = pa.table({
        "seq": pa.array(seqs, pa.int64()),
        "op": pa.array([r[1] for r in rows], pa.string()),
        "ts": pa.array(
            [dt.datetime(2024, 1, 1, 0, 0, s % 60, tzinfo=dt.timezone.utc)
             for s in seqs],
            pa.timestamp("us", tz="UTC"),
        ),
        "conv_id": pa.array([r[3] for r in rows], pa.string()),
        "turn_idx": pa.array([r[4] for r in rows], pa.int32()),
        "role": pa.array(["user"] * len(rows), pa.string()),
        "text": pa.array([r[5] for r in rows], pa.string()),
        "tool": pa.array([None] * len(rows), pa.string()),
        "source_file": pa.array([name] * len(rows), pa.string()),
        "source_pos": pa.array(seqs, pa.int64()),
        "payload_json": pa.array([None] * len(rows), pa.string()),
        "txn_id": pa.array([r[2] for r in rows], pa.int64()),
    })
    path = os.path.join(feed_dir, f"{name}.parquet")
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_pending_report_and_txn_abandonment(spark, tmp_path):
    """JVM-gate accounting for transactions that never commit: by default
    they hold forever but surface in pending_report(); with
    txn_abandon_after_batches set they route to the DLQ with reason
    'txn-abandoned' instead of vanishing. Deterministic segments: txn 99
    is dangling from batch 1; txns 1-3 commit inside their batches."""
    from nifi_spark.streaming.job import CdcPipeline

    feed_dir = str(tmp_path / "feed")
    base = 1_700_000_000
    _txn_seg(spark, feed_dir, "b1", base + 0, [
        (1, "U", 1, "c1", 0, "a"), (2, "C", 1, None, None, None),
        (3, "U", 99, "c9", 0, "dangling-1"), (4, "U", 99, "c9", 1, "dangling-2"),
    ])
    _txn_seg(spark, feed_dir, "b2", base + 60, [
        (5, "U", 2, "c2", 0, "b"), (6, "C", 2, None, None, None),
    ])
    _txn_seg(spark, feed_dir, "b3", base + 120, [
        (7, "U", 3, "c3", 0, "c"), (8, "C", 3, None, None, None),
    ])

    # default: the dangling txn holds and is visible in the report
    p = CdcPipeline(
        spark, str(tmp_path / "t1"), str(tmp_path / "ck1"),
        n_buckets=4, txn_consistent=True,
    )
    p.start(feed_dir, max_files_per_trigger=1, available_now=True).awaitTermination()
    rep = p.pending_report().toPandas()
    assert list(rep["txn_id"]) == [99]
    assert list(rep["n_events"]) == [2]
    assert list(rep["min_seq"]) == [3] and list(rep["max_seq"]) == [4]
    assert set(rep.columns) == {"txn_id", "n_events", "age_batches", "min_seq", "max_seq"}

    # with abandonment: the expired open lands in the DLQ, not the table
    p2 = CdcPipeline(
        spark, str(tmp_path / "t2"), str(tmp_path / "ck2"),
        n_buckets=4, txn_consistent=True, txn_abandon_after_batches=1,
    )
    p2.start(feed_dir, max_files_per_trigger=1, available_now=True).awaitTermination()
    dlq = spark.read.parquet(str(tmp_path / "t2") + "/_dlq").toPandas()
    ab = dlq[dlq["reason"] == "txn-abandoned"]
    assert sorted(ab["source_pos"]) == [3, 4]  # exactly txn 99's events
    assert p2.pending_report().count() == 0  # nothing held after expiry
    # table state identical to the no-abandonment run — the dangling txn
    # was never going to commit, so the admitted sets match
    cols = ["conv_id", "turn_idx", "text"]
    t1 = sorted(map(tuple, p.table.read().select(cols).collect()))
    t2 = sorted(map(tuple, p2.table.read().select(cols).collect()))
    assert t1 == t2 == [("c1", 0, "a"), ("c2", 0, "b"), ("c3", 0, "c")]


def test_inline_expiry_bounds_commit_log(spark, tmp_path):
    """expire_every wires snapshot expiry into the batch loop (COW path):
    the manifest count stays bounded across many commits, and time travel
    to the oldest KEPT snapshot still reads (base-chain closure intact)."""
    from nifi_spark.streaming.job import CdcPipeline

    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ck"),
        n_buckets=2, expire_every=2, expire_keep_n=3,
    )
    for b in range(10):
        df = spark.createDataFrame(
            [(b * 10 + i, "U", f"2024-01-01 00:00:{b:02d}",
              f"c{i}", 0, "user", f"t{b}", None, None,
              f"f{b}", i, None)
             for i in range(4)],
            "seq long, op string, ts_s string, conv_id string, turn_idx int, "
            "role string, text string, tool string, tool_meta string, "
            "source_file string, source_pos long, payload_json string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        m = p.apply_batch(df, batch_id=b)
        assert m["version"] is not None
    live = p.table._versions()
    assert len(live) <= 3 + 2 + 2  # keep_n + closure + since-last-tick
    assert p.table.read(version=min(live)).count() > 0
    # head state is the newest batch's text for every key
    assert set(
        r.text for r in p.table.read().select("text").distinct().collect()
    ) == {"t9"}


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, conv_id string, turn_idx int, text string"
    )


def test_changelog_chaining_converges_each_step(spark, tmp_path):
    """Table B fed ONLY by A's changelog across version steps that mix
    COW merges, MOR appends, and deletes: B equals A's live image at
    every cursor step, and a stale-cursor re-run is a no-op."""
    from nifi_spark.sinks.laketable import LakeTable

    A = LakeTable(spark, str(tmp_path / "A"), n_buckets=2)
    B = LakeTable(spark, str(tmp_path / "B"), n_buckets=2)
    keys = ["conv_id", "turn_idx"]

    def img(t):
        return sorted(
            (r.conv_id, r.turn_idx, r.text)
            for r in t.read().select("conv_id", "turn_idx", "text").collect()
        )

    cursor = 0
    # step 1: COW merge creates A (inserts)
    A.merge_events(_ev(spark, [(1, "U", "c1", 0, "a"), (2, "U", "c2", 0, "b")]),
                   keys, batch_id=1)
    cursor = B.sync_from(A, cursor)
    assert img(B) == img(A)

    # step 2: MOR append (update + new key)
    A.append_events(_ev(spark, [(3, "U", "c1", 0, "a2"), (4, "U", "c3", 1, "c")]),
                    keys, batch_id=2)
    cursor = B.sync_from(A, cursor)
    assert img(B) == img(A)

    # step 3: COW merge with a delete and another update
    A.merge_events(_ev(spark, [(5, "D", "c2", 0, None), (6, "U", "c3", 1, "c2")]),
                   keys, batch_id=3)
    cursor = B.sync_from(A, cursor)
    assert img(B) == img(A)
    assert ("c2", 0) not in {(k, t) for k, t, _ in img(B)}

    # step 4: second MOR append
    A.append_events(_ev(spark, [(7, "U", "c4", 0, "d")]), keys, batch_id=4)
    cursor = B.sync_from(A, cursor)
    assert img(B) == img(A)

    # stale cursor re-run: idempotent (batch id = src head already applied)
    vb = B.current_version()
    assert B.sync_from(A, cursor - 1) == A.current_version()
    assert B.current_version() == vb
    # cursor at head: pure no-op
    assert B.sync_from(A, cursor) == cursor


def test_changelog_chaining_multi_commit_span(spark, tmp_path):
    """One sync covering several src commits (a consumer that woke up
    late) still lands the net image."""
    from nifi_spark.sinks.laketable import LakeTable

    A = LakeTable(spark, str(tmp_path / "A"), n_buckets=2)
    B = LakeTable(spark, str(tmp_path / "B"), n_buckets=2)
    keys = ["conv_id", "turn_idx"]
    A.merge_events(_ev(spark, [(1, "U", "c1", 0, "a")]), keys, batch_id=1)
    A.append_events(_ev(spark, [(2, "U", "c1", 0, "a2"), (3, "U", "c2", 0, "b")]),
                    keys, batch_id=2)
    A.merge_events(_ev(spark, [(4, "D", "c1", 0, None)]), keys, batch_id=3)
    cursor = B.sync_from(A, 0)
    assert cursor == A.current_version()
    got = sorted((r.conv_id, r.turn_idx, r.text) for r in
                 B.read().select("conv_id", "turn_idx", "text").collect())
    assert got == [("c2", 0, "b")]


def test_cc_star_matches_minlabel_and_converges_faster_on_chains(spark):
    """large-star/small-star: same (node, component) output contract as
    min-label on chains, islands and stars, and O(log n) rounds on a
    chain where min-label needs O(n)."""
    from nifi_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (23, 22), (22, 21), (21, 20)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    got = {r.node: r.component for r in
           connected_components(edges, algo="star").collect()}
    assert got == want

    # 14-node chain: star rounds << minlabel rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 14)], "id_a long, id_b long"
    )
    lab_ml, r_ml = connected_components(chain, max_iter=30, return_rounds=True)
    lab_st, r_st = connected_components(
        chain, max_iter=30, algo="star", return_rounds=True
    )
    ml = {r.node: r.component for r in lab_ml.collect()}
    st = {r.node: r.component for r in lab_st.collect()}
    assert ml == st == {i: 1 for i in range(1, 15)}
    assert r_st < r_ml, f"star {r_st} rounds vs minlabel {r_ml}"

    with pytest.raises(ValueError, match="algo"):
        connected_components(chain, algo="bfs")


def test_cc_star_equals_minlabel_on_real_dedup_pairs(spark):
    """The dedup_clusters contract holds under the star flag: identical
    (node, component) labels on the sf0.001 minhash-LSH pair graph."""
    from nifi_spark.operators.dedup_fuzzy import minhash_dedup_pairs
    from nifi_spark.operators.graph import connected_components

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", n_hashes=16, shingle_n=3, n_bands=4, threshold=0.5
    ).localCheckpoint()
    ml = {r.node: r.component for r in connected_components(pairs).collect()}
    st = {r.node: r.component for r in
          connected_components(pairs, algo="star").collect()}
    assert ml == st and len(ml) > 0


# ---------------------------------------------------------------------------
# Generate/Project plan-shape guard: a non-attribute column selected NEXT TO
# an explode lands in the Project above the Generate, where Catalyst
# re-evaluates its whole expression tree once per EXPLODED row (measured 25x
# on decontaminate's shingle+md5 array at sf0.1). These queries were fixed to
# keep heavyweight trees below their Generates; pin the shape.
# ---------------------------------------------------------------------------

_GEN_GUARDED = [
    "decontaminate",
    "curate_corpus",
    "embedding_ann_ivf_pq",
    "repetition_stats",
]


def _heavy_projects_above_generates(df):
    """Projects sitting directly above a Generate whose expressions include
    array/hash builder trees (for the guarded queries all legitimate heavy
    work lives inside the generator or below it, so any hit is recompute)."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    heavy = re.compile(r"md5\(|conv\(|aggregate\(|zip_with\(|sequence\(")
    hits = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Generate " not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" +-:"))
        for j in range(i - 1, -1, -1):
            pj = lines[j]
            pind = len(pj) - len(pj.lstrip(" +-:"))
            if pind < indent and pj.strip():
                if "Project" in pj and heavy.search(pj):
                    hits.append(pj.strip()[:120])
                break
    return hits


@pytest.mark.parametrize("name", _GEN_GUARDED)
def test_no_heavy_project_above_generate(spark, name):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](spark, SF)
    hits = _heavy_projects_above_generates(df)
    assert hits == [], f"{name}: heavy recompute above Generate: {hits}"


def test_iceberg_evolve_sql_statements_pinned():
    """VERDICT r4 #8 — pin the evolution DDL IcebergMergeSink issues on a
    real catalog (≙ UpdateDatabaseTable.java:506-541): a 2-key schema
    gaining a column and widening an int, exact statement text."""
    from pyspark.sql import types as T

    from nifi_spark.sinks.laketable import (
        SchemaEvolutionError,
        iceberg_evolve_sql,
    )

    current = {
        "conv_id": T.StringType(), "turn_idx": T.IntegerType(),
        "role": T.StringType(), "n_tokens": T.IntegerType(),
    }
    incoming = {
        "conv_id": T.StringType(), "turn_idx": T.IntegerType(),
        "role": T.StringType(), "n_tokens": T.LongType(),
        "tool_meta": T.StringType(),
    }
    stmts = iceberg_evolve_sql(
        "cat.db.transcripts", current, incoming, ["conv_id", "turn_idx"]
    )
    assert stmts == [
        "ALTER TABLE cat.db.transcripts ALTER COLUMN n_tokens TYPE bigint",
        "ALTER TABLE cat.db.transcripts ADD COLUMN tool_meta string",
    ]
    # no-op when schemas agree
    assert iceberg_evolve_sql("t", current, current, ["conv_id"]) == []
    # narrower incoming type: reader-side widening, no DDL
    narrower = dict(incoming, n_tokens=T.ShortType())
    assert iceberg_evolve_sql("t", incoming, narrower, []) == []
    # key-type change refuses
    import pytest as _pytest

    with _pytest.raises(SchemaEvolutionError, match="key column"):
        iceberg_evolve_sql(
            "t", current, dict(current, conv_id=T.LongType()), ["conv_id"]
        )
    # illegal promotion refuses
    with _pytest.raises(SchemaEvolutionError, match="cannot evolve"):
        iceberg_evolve_sql("t", current, dict(current, role=T.LongType()), [])


def test_two_phase_topk_matches_global_window(spark):
    """VERDICT r4 #7 — the two-phase ``cosine_topk`` (partial top-k per
    (query, input partition), then the global window) must yield exactly
    the rows/ranks of ONE global ``row_number() OVER (PARTITION BY
    query_id)`` over the same scored input, and its partial stage must
    stay window+filter in the plan (no Python eval)."""
    from pyspark.sql import Window as W

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(8)
    q = emb.filter(F.col("vec_id") < 5)
    df = cosine_topk(q, emb, k=7)
    got = sorted(map(tuple, df.collect()))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "_ptk_pid" in plan

    scored = (
        F.broadcast(q.select(F.col("vec_id").alias("query_id"),
                             F.col("embedding").alias("_qv")))
        .crossJoin(emb.select(F.col("vec_id").alias("neighbor_id"),
                              F.col("embedding").alias("_cv")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    want = sorted(
        map(tuple, scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 7)
            .select(*df.columns).collect())
    )
    assert got == want and len(got) == 35