"""Multi-table CDC fan-out (streaming/multi.py): one binlog stream, N
lake tables. Replay equality per table, unrouted dead-lettering,
idempotent replay across sinks, cross-table transaction atomicity,
parallel-apply equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from nifi_spark.feedgen import generate_change_feed, materialize_feed, with_transactions
from nifi_spark.streaming.multi import MultiTableCdcPipeline

from .oracle import assert_final_state_equal, pandas_fold

TABLES = ("convs_a", "convs_b")


def _route_col():
    """conv-NNNNNNNN parity → convs_a / convs_b; markers stay unrouted."""
    n = F.substring("conv_id", 6, 8).cast("long")
    return F.when(F.col("op").isin("C", "B"), F.lit(None).cast("string")).otherwise(
        F.when(n % 2 == 0, "convs_a").otherwise("convs_b")
    )


def _route_pd(feed_pd):
    n = feed_pd["conv_id"].str[5:].astype(int)
    return {"convs_a": feed_pd[n % 2 == 0], "convs_b": feed_pd[n % 2 == 1]}


def _mk(spark, tmp_path, **kw):
    return MultiTableCdcPipeline(
        spark,
        {t: str(tmp_path / t) for t in TABLES},
        str(tmp_path / "ckpt"),
        n_buckets=4,
        **kw,
    )


def _table_pd(multi, name):
    return (
        multi.pipes[name]
        .table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )


def test_multi_table_replay_equals_per_table_oracle(spark, tmp_path):
    feed = generate_change_feed(spark, n_conversations=40, max_turns=6, max_edits=3)
    routed = feed.withColumn("table_name", _route_col())
    feed_dir = str(tmp_path / "feed")
    materialize_feed(routed, feed_dir, n_segments=3)

    multi = _mk(spark, tmp_path)
    multi.run_to_completion(feed_dir)

    slices = _route_pd(feed.toPandas())
    for name in TABLES:
        assert len(slices[name])  # the split is non-trivial
        assert_final_state_equal(_table_pd(multi, name), pandas_fold(slices[name]))


def test_multi_table_unrouted_dead_letter(spark, tmp_path):
    feed = generate_change_feed(spark, n_conversations=20, max_turns=4, max_edits=2)
    routed = feed.withColumn(
        "table_name",
        F.when(F.col("turn_idx") == 0, F.lit("unknown_tbl")).otherwise(_route_col()),
    )
    feed_dir = str(tmp_path / "feed")
    materialize_feed(routed, feed_dir)

    multi = _mk(spark, tmp_path)
    multi.run_to_completion(feed_dir)

    dead = spark.read.parquet(multi.unrouted_dir)
    n_unknown = feed.filter(F.col("turn_idx") == 0).count()
    assert dead.count() == n_unknown
    assert dead.filter(F.col("table_name") != "unknown_tbl").count() == 0
    assert "_batch_id" in dead.columns
    # unknown-table rows never reach a sink
    for name in TABLES:
        assert multi.pipes[name].table.read().filter(F.col("turn_idx") == 0).count() == 0


def test_multi_table_replay_is_idempotent_per_sink(spark, tmp_path):
    """Shared batch id + per-sink idempotency = exactly-once across N
    sinks: re-offering an applied batch to the fan-out is a no-op even
    if one sink had already committed it (mid-fan-out crash replay)."""
    feed = generate_change_feed(spark, n_conversations=20, max_turns=4, max_edits=2)
    routed = feed.withColumn("table_name", _route_col()).withColumn(
        "_bad", F.lit(False)
    )
    multi = _mk(spark, tmp_path)

    batch = routed
    multi.apply_batch(batch, 0)
    v = {t: multi.pipes[t].table.current_version() for t in TABLES}

    # crash replay: table a already has batch 0, table b gets it again too
    multi.apply_batch(batch, 0)
    assert {t: multi.pipes[t].table.current_version() for t in TABLES} == v

    slices = _route_pd(feed.toPandas())
    for name in TABLES:
        assert_final_state_equal(_table_pd(multi, name), pandas_fold(slices[name]))


def test_multi_table_cross_table_transactions(spark, tmp_path):
    """A transaction spans tables (txn_id = seq div span groups both
    tables' events); its shared commit marker must admit each table's
    slice, and a dangling transaction must land in NEITHER table."""
    feed = generate_change_feed(spark, n_conversations=30, max_turns=4, max_edits=3)
    txn = with_transactions(feed, txn_seq_span=512, dangling_mod=5)
    routed = txn.withColumn("table_name", _route_col())
    feed_dir = str(tmp_path / "feed")
    materialize_feed(routed, feed_dir, n_segments=3)

    multi = _mk(spark, tmp_path, txn_consistent=True)
    multi.run_to_completion(feed_dir)

    committed = txn.filter(
        (F.col("op") != "C") & (F.expr("txn_id % 5") != 0)
    ).drop("txn_id")
    slices = _route_pd(committed.toPandas())
    dangling = txn.filter(F.expr("txn_id % 5") == 0).count()
    assert dangling  # the scenario exercises real dangling txns
    for name in TABLES:
        assert_final_state_equal(_table_pd(multi, name), pandas_fold(slices[name]))


def test_multi_table_parallel_equals_sequential(spark, tmp_path):
    feed = generate_change_feed(spark, n_conversations=30, max_turns=5, max_edits=3)
    routed = feed.withColumn("table_name", _route_col())
    feed_dir = str(tmp_path / "feed")
    materialize_feed(routed, feed_dir, n_segments=2)

    seq = MultiTableCdcPipeline(
        spark, {t: str(tmp_path / "s" / t) for t in TABLES},
        str(tmp_path / "s" / "ckpt"), n_buckets=4,
    )
    par = MultiTableCdcPipeline(
        spark, {t: str(tmp_path / "p" / t) for t in TABLES},
        str(tmp_path / "p" / "ckpt"), n_buckets=4, parallel=True,
    )
    seq.run_to_completion(feed_dir)
    par.run_to_completion(feed_dir)
    for name in TABLES:
        assert_final_state_equal(_table_pd(par, name), _table_pd(seq, name))


def test_multi_table_json_payload_path(spark, tmp_path):
    """from_json_payload mode: parse is baked into the shared stream,
    the routing column rides through as metadata."""
    feed = generate_change_feed(spark, n_conversations=20, max_turns=4, max_edits=2)
    raw = feed.select(
        "seq", "op", "ts", "conv_id", "turn_idx",
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "source_file", "source_pos", "payload_json",
    ).withColumn("table_name", _route_col())
    feed_dir = str(tmp_path / "feed")
    materialize_feed(raw, feed_dir, n_segments=2)

    multi = _mk(spark, tmp_path, from_json_payload=True)
    multi.run_to_completion(feed_dir)

    slices = _route_pd(feed.toPandas())
    for name in TABLES:
        assert_final_state_equal(_table_pd(multi, name), pandas_fold(slices[name]))


def test_multi_table_cli_wiring(spark, tmp_path):
    """--tables mode of the spark-submit CLI (in-process: arg parsing +
    pipeline wiring; the fresh-JVM path is covered by
    test_spark_submit.py's single-table run)."""
    from nifi_spark.streaming.job import _cli

    feed = generate_change_feed(spark, n_conversations=15, max_turns=4, max_edits=2)
    routed = feed.withColumn("table_name", _route_col())
    feed_dir = str(tmp_path / "feed")
    materialize_feed(routed, feed_dir)

    ta, tb = str(tmp_path / "ta"), str(tmp_path / "tb")
    _cli([
        "--feed-dir", feed_dir,
        "--tables", f"convs_a={ta},convs_b={tb}",
        "--checkpoint", str(tmp_path / "ckpt"),
        "--n-buckets", "4", "--available-now", "--parallel-tables",
    ])

    from nifi_spark.sinks.laketable import LakeTable

    slices = _route_pd(feed.toPandas())
    for name, path in (("convs_a", ta), ("convs_b", tb)):
        got = (
            LakeTable(spark, path, n_buckets=4)
            .read()
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            .toPandas()
        )
        assert_final_state_equal(got, pandas_fold(slices[name]))


def test_multi_table_ddl_routes_to_one_table(spark, tmp_path):
    """An in-stream DDL event routed to one table evolves ONLY that
    table's schema; data flow and final states are unaffected."""
    from nifi_spark.feedgen import with_ddl

    feed = generate_change_feed(spark, n_conversations=20, max_turns=4, max_edits=2)
    max_seq = feed.agg(F.max("seq")).collect()[0][0]
    fed = with_ddl(
        spark, feed,
        [(int(max_seq) + 1000, "ALTER TABLE conversations ADD COLUMN note string")],
    )
    routed = fed.withColumn(
        "table_name",
        F.when(F.col("op") == "ddl", F.lit("convs_a")).otherwise(_route_col()),
    )
    feed_dir = str(tmp_path / "feed")
    materialize_feed(routed, feed_dir, n_segments=2)

    multi = _mk(spark, tmp_path, from_json_payload=True)
    multi.run_to_completion(feed_dir)

    a_fields = [f.name for f in multi.pipes["convs_a"].table.schema().fields]
    b_fields = [f.name for f in multi.pipes["convs_b"].table.schema().fields]
    assert "note" in a_fields and "note" not in b_fields
    slices = _route_pd(feed.toPandas())
    for name in TABLES:
        assert_final_state_equal(_table_pd(multi, name), pandas_fold(slices[name]))


def test_multi_table_unrouted_rows_once_after_replay(spark, tmp_path):
    """Unrouted rows land in one ``unrouted/batch_id=N`` directory per
    batch, which a replay of the batch overwrites: each row is there once
    however often the batch re-runs."""
    batch = spark.createDataFrame(
        [(1, "I", "c0", 0, "user", "hi", "unknown_tbl")],
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, table_name string",
    )
    multi = _mk(spark, tmp_path)
    for _ in range(2):
        assert multi.apply_batch(batch, 0)["n_unrouted"] == 1
    dead = spark.read.parquet(multi.unrouted_dir)
    assert [(r._batch_id, r.text) for r in dead.collect()] == [(0, "hi")]
