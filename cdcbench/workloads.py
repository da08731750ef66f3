"""The workloads: two closed-loop stream drains, one interleaved with a query pass.

Every workload drains a pre-materialized backlog with one ``CdcPipeline``
(``availableNow``, ``maxFilesPerTrigger=1``): the next micro-batch starts
only after the previous one commits. The set-up drains the feed's first
files. The timed phase runs in cycles: each hands the pipeline the next
files, drains them with the same pipeline and runs a fixed read set on
the table's new head. ``append_small`` also runs one warm pass over a
fixed list of ``__spark_entry__.queries()`` entries in the same process,
a share of it after each cycle. So every metric's samples spread over the
whole phase, and a few slow seconds of the host sway one cycle rather
than a whole metric.

A workload is a list of parts (:class:`Stream`, :class:`Queries`). Every
part builds its inputs; the parts warm up side by side (the set-up);
their timed steps alternate in one timed phase; the correctness checks
of every part run after it. The workload returns a :class:`Result`:
wall-clock samples for the end-to-end metrics, the operations it
attempted and the ones that failed (an exception or an oracle mismatch),
and details (feed identity, sample counts) for the report.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import feeds

N_BUCKETS = 16
# at least one entry per operator module, plus tpch_q5 (no repo code: the
# control); dedup_clusters covers dedup_fuzzy and graph
QUERIES = [
    "tpch_q5", "cdc_lww_fold", "defragment", "dedup_clusters", "embedding_cosine_topk",
    "chunk_documents", "asof_join", "assemble_transcripts", "jslt_transform",
    "jolt_transform", "el_functions", "recordpath_nested", "avro_datum_roundtrip",
    "decontaminate", "profile_documents",
]


@dataclass
class Result:
    setup_s: float = 0.0  # pipeline/table build + warm-up, after the session is up
    wall_s: float = 0.0  # the timed phase
    events: int = 0
    drain_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)   # per non-empty micro-batch
    read_ops: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    details: dict = field(default_factory=dict)
    phases: list[tuple[float, float]] = field(default_factory=list)  # epoch s, timed windows
    batch_windows: list[tuple[int, float, float]] = field(default_factory=list)
    query_walls: dict[str, float] = field(default_factory=dict)

    def check(self, name: str, ok: bool, msg: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {msg}")

    def op(self, name: str, fn, *args):
        """Run one operation, counting it; an exception is a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            raise


def run(ctx, workload: str) -> Result:
    res = Result()
    stream = Stream(ctx, workload)
    parts = [stream] + ([Queries(ctx, stream.cfg.cycles)] if workload == "append_small" else [])
    for p in parts:
        p.inputs(res)
    # the parts share no state, so they warm up side by side; a warm-up
    # that raises ends the run
    t0 = time.perf_counter()

    def warm(p) -> tuple[int, float]:
        n = p.warm()
        return n, time.perf_counter() - t0

    with ThreadPoolExecutor(len(parts)) as pool:
        warmed = [f.result() for f in [pool.submit(warm, p) for p in parts]]
    res.attempted += sum(n for n, _ in warmed)
    res.setup_s = time.perf_counter() - t0
    res.details["warm_s"] = {type(p).__name__: round(s, 3) for p, (_, s) in zip(parts, warmed)}
    ctx.begin_timed()
    t0, t_wall = time.time(), time.perf_counter()
    steps = [p.steps(res) for p in parts]
    while steps:
        steps = [it for it in steps if next(it, None) is not None]
    res.wall_s = time.perf_counter() - t_wall
    res.phases.append((t0, time.time()))
    ctx.end_timed()

    t_check = time.perf_counter()
    for p in parts:
        p.check(res)
    res.details["check_s"] = time.perf_counter() - t_check
    return res


# ----------------------------------------------------------------- streams

@dataclass(frozen=True)
class StreamConfig:
    spec: feeds.FeedSpec  # the whole feed: the warm-up files, then the timed ones
    warm_files: int       # drained in the set-up
    cycles: int           # timed cycles; each drains an equal share of the rest
    reads: int            # read-set rounds after each cycle's drain
    pipeline: dict

    @property
    def cycle_files(self) -> int:
        return (self.spec.n_files - self.warm_files) // self.cycles


def stream_config(workload: str, seconds: int, smoke: bool) -> StreamConfig:
    """Feed and pipeline settings, sized so the timed phase takes roughly
    ``seconds`` on a 4-core host (``smoke``: a few tiny batches)."""
    if workload == "append_small":
        # every 4th batch compacts and expires, so each cycle of 4 files
        # holds 3 plain batches and 1 heavy one, and the warm-up runs
        # one cycle; p90 is a middle order statistic of the heavy ones
        cycles = 1 if smoke else max(1, seconds // 6)
        n_files = 4 * (1 + cycles)
        return StreamConfig(
            feeds.FeedSpec(n_events=n_files * (500 if smoke else 3000), n_files=n_files),
            4, cycles, 1,
            dict(sink_mode="append", compact_every=4, expire_every=4, expire_keep_n=8),
        )
    if workload == "gated_merge":
        # every batch also refreshes the MV and compacts the index; the
        # warm-up batch runs the MV refresh (the index then has one
        # partition, nothing to compact). One timed batch: a warm batch
        # costs ~14 s and a cold one twice that
        shape = dict(order="contiguous", dangling_mod=40, words=(12, 24), hot_extra=30,
                     near_copy_mod=10)
        n_events = 500 if smoke else 1200
        return StreamConfig(
            feeds.FeedSpec(n_events=n_events, n_files=2, hot_convs=n_events // 600, **shape),
            1, 1, 5,
            dict(sink_mode="merge", txn_consistent=True, quality_action="record",
                 quality_checks=[
                     {"check": "complete", "column": "conv_id", "min_fraction": 1.0},
                     {"check": "in_range", "column": "turn_idx", "lo": 0, "hi": 63},
                 ],
                 mv=True, mv_refresh_every=1, near_dup=True, index_compact_every=1),
        )
    raise ValueError(workload)


def pin_mtimes(feed: feeds.Feed) -> None:
    """The file source admits files oldest first: pin modification times
    to file order so micro-batch b is exactly file b."""
    parts = sorted(f for f in os.listdir(feed.path) if f.endswith(".parquet"))
    now = time.time() - len(parts)
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed.path, f), (now + i, now + i))


def move_files(src: str, dst: str, names: list[str]) -> None:
    """Hand feed files to the stream's source directory (mtimes kept)."""
    for f in names:
        os.replace(os.path.join(src, f), os.path.join(dst, f))


def drain(pipe, path: str):
    q = pipe.start(path, max_files_per_trigger=1)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return q


def _parse_ts(s: str) -> float:
    return pd.Timestamp(s).timestamp()


class Stream:
    """A seeded feed drained by one pipeline. The set-up drains the first
    ``warm_files`` files; each timed cycle moves the next ``cycle_files``
    files into the source directory, drains them and runs the read set
    on the new head."""

    def __init__(self, ctx, workload: str):
        self.ctx = ctx
        self.workload = workload
        self.cfg = stream_config(workload, ctx.seconds, ctx.smoke)

    def _pipeline(self):
        from nifi_spark.streaming.job import CdcPipeline

        d = os.path.join(self.ctx.work, "tables", self.workload)
        shutil.rmtree(d, ignore_errors=True)
        kw = dict(self.cfg.pipeline)
        mv, near_dup = kw.pop("mv", False), kw.pop("near_dup", False)
        return CdcPipeline(
            self.ctx.spark, os.path.join(d, "table"), os.path.join(d, "ckpt"),
            n_buckets=N_BUCKETS, from_json_payload=True,
            mv_path=os.path.join(d, "mv") if mv else None,
            near_dup_index=os.path.join(d, "lsh") if near_dup else None,
            **kw,
        )

    def inputs(self, res: Result) -> None:
        t_gen = time.perf_counter()
        feed_dir = os.path.join(self.ctx.work, "feeds", self.workload)
        self.feed = feeds.build_feed(self.cfg.spec, self.ctx.seed, feed_dir + "-all")
        pin_mtimes(self.feed)
        self.src = feed_dir
        shutil.rmtree(self.src, ignore_errors=True)
        os.makedirs(self.src)
        self.files = sorted(f for f in os.listdir(self.feed.path) if f.endswith(".parquet"))
        move_files(self.feed.path, self.src, self.files[:self.cfg.warm_files])
        self.oracle = feeds.lww_fold(self.feed)
        rng = np.random.default_rng(self.ctx.seed + 31)
        convs = self.oracle["conv_id"].unique()
        self.keys = sorted(rng.choice(convs, size=min(32, len(convs)), replace=False).tolist())
        f = self.feed
        res.details.update(feed_rows=f.n_rows, feed_events=f.n_events, feed_files=self.cfg.spec.n_files,
                           feed_hash=f.content_hash, gen_s=time.perf_counter() - t_gen)

    def warm(self) -> int:
        """Drain the warm-up files, find the keyed read's buckets and run
        the read set once."""
        self.pipe = self._pipeline()
        self.table = self.ctx.table = self.pipe.table
        q = drain(self.pipe, self.src)
        warm = sum(1 for p in q.recentProgress if p.numInputRows > 0)
        if warm != self.cfg.warm_files:
            raise RuntimeError(f"{warm} warm-up batches for {self.cfg.warm_files} files")
        self.key_buckets = sorted({
            r[0] for r in self.ctx.spark.createDataFrame([(k,) for k in self.keys], "conv_id string")
            .select(self.table._bucket_col("conv_id")).collect()
        })
        for fn in self._reads().values():
            fn()
        return warm + 3

    def _reads(self) -> dict:
        """The read set on the table's head: a full read, a bucket-pruned
        keyed read and a change read from a few commits back."""
        from pyspark.sql import functions as F

        table = self.table
        self.head = head = table.current_version()
        self.mid = mid = next(v for v in range(max(head - 4, 1), 0, -1)
                              if table.snapshot_summary(v).get("batch_id") is not None)
        return {
            "read_all": lambda: _count_and_hash(table.read()),
            "read_keys": lambda: table.read(buckets=self.key_buckets)
            .filter(F.col("conv_id").isin(self.keys)).count(),
            "read_changes": lambda: table.changes(mid, head).count(),
        }

    def steps(self, res: Result):
        """The timed cycles, one step each."""
        cfg = self.cfg
        progress = []
        walls: dict[str, list[float]] = {}
        self.cycles = []  # per cycle: last batch, mid batch, each read's outputs
        for c in range(cfg.cycles):
            lo = cfg.warm_files + c * cfg.cycle_files
            move_files(self.feed.path, self.src, self.files[lo:lo + cfg.cycle_files])
            t0 = time.perf_counter()
            q = drain(self.pipe, self.src)
            res.drain_s += time.perf_counter() - t0
            progress += [p for p in q.recentProgress if p.numInputRows > 0]
            reads = self._reads()
            outs: dict[str, list] = {name: [] for name in reads}
            for _ in range(cfg.reads):
                for name, fn in reads.items():
                    t0 = time.perf_counter()
                    outs[name].append(res.op(name, self.ctx.span(f"readset.{name}", fn)))
                    walls.setdefault(name, []).append(time.perf_counter() - t0)
            mid_batch = int(self.table.snapshot_summary(self.mid)["batch_id"])
            self.cycles.append((lo + cfg.cycle_files - 1, mid_batch, outs))
            yield c
        res.attempted += len(progress)
        self.batch_ids = [p.batchId for p in progress]
        res.batch_s = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
        res.batch_windows = [
            (p.batchId, _parse_ts(p.timestamp), _parse_ts(p.timestamp) + p.durationMs["triggerExecution"] / 1000.0)
            for p in progress
        ]
        res.events = int((self.feed.events["file_idx"] >= cfg.warm_files).sum())
        res.read_ops = {name: statistics.median(w) for name, w in walls.items()}

    def check(self, res: Result) -> None:
        from nifi_spark.lineage import lineage_audit

        oracle, table, cfg = self.oracle, self.table, self.cfg
        # one micro-batch per file, numbered by file: batch b applies file b
        want_ids = list(range(cfg.warm_files, cfg.spec.n_files))
        res.check("batches", self.batch_ids == want_ids,
                  f"timed batches {self.batch_ids} for files {want_ids}")
        # each cycle's reads against the fold of the feed up to that cycle
        for upto, mid_batch, outs in self.cycles:
            fold = feeds.lww_fold(self.feed, upto)
            for name, got in outs.items():
                res.check(f"{name}.rounds", all(g == got[0] for g in got), f"rounds disagree: {got}")
            want = {
                "read_all": len(fold),
                "read_keys": int(fold["conv_id"].isin(self.keys).sum()),
                "read_changes": _changed_keys(feeds.lww_fold(self.feed, mid_batch), fold),
            }
            got = {"read_all": outs["read_all"][0][0], "read_keys": outs["read_keys"][0],
                   "read_changes": outs["read_changes"][0]}
            for name in want:
                res.check(f"{name}@{upto}", got[name] == want[name],
                          f"{got[name]} vs oracle {want[name]}")
        check_final_table(res, table, oracle)
        bad = lineage_audit(self.ctx.spark, table.path,
                            txn_mode=bool(cfg.pipeline.get("txn_consistent"))).count()
        res.check("lineage_audit", bad == 0, f"{bad} violations")
        if cfg.pipeline.get("mv"):
            _check_mv(self.ctx, res, self.pipe)
        if cfg.pipeline.get("near_dup"):
            _check_near_dups(self.ctx, res, self.feed, table)
        if cfg.pipeline["sink_mode"] == "merge":
            # delta manifests list only the buckets a commit rewrote
            fr = [len(m["files"]) / N_BUCKETS
                  for m in (table._manifest(v) for v in range(2, self.head + 1))
                  if m.get("depth", 0) > 0 and m["summary"].get("batch_id") is not None]
            res.details["buckets_rewritten_frac"] = statistics.mean(fr) if fr else 0.0
        res.details.update(batches=len(self.batch_ids), batch_s=[round(b, 3) for b in res.batch_s],
                           read_s={k: round(v, 3) for k, v in res.read_ops.items()})


def check_final_table(res: Result, table, oracle: pd.DataFrame) -> None:
    """The gate: the table's live rows equal the independent fold."""
    from pyspark.sql import functions as F

    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    got = table.read().select(*cols, F.unix_micros("ts").alias("ts_us")).toPandas()
    res.check("final_table", feeds.frames_equal(got, oracle),
              f"{len(got)} rows vs {len(oracle)} in the independent fold")


def _count_and_hash(df) -> tuple[int, str]:
    """Row count and an order-free content hash, in one job."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).cast("string"),
    ).collect()[0]
    return int(r[0]), r[1]


def _changed_keys(before: pd.DataFrame, after: pd.DataFrame) -> int:
    """Keys whose live image differs between two folds."""
    key = ["conv_id", "turn_idx"]
    m = before.merge(after, on=key, how="outer", suffixes=("_b", "_a"), indicator=True)
    both = m[m["_merge"] == "both"]
    differ = both["ts_us_b"] != both["ts_us_a"]
    return int((m["_merge"] != "both").sum() + differ.sum())


def _check_mv(ctx, res: Result, pipe) -> None:
    from nifi_spark.sinks.laketable import LakeTable

    mv = LakeTable(ctx.spark, pipe.mv_path)
    synced = mv.last_batch_id()
    live = pipe.table.read(version=synced).select("conv_id", "turn_idx", "text").toPandas()
    want = live.groupby("conv_id").agg(
        n_turns=("turn_idx", "size"), max_turn=("turn_idx", "max"),
        sum_chars=("text", lambda s: s.str.len().sum() if s.notna().any() else None),
    ).reset_index()
    got = mv.read().select("conv_id", "n_turns", "max_turn", "sum_chars").toPandas()
    res.details["mv_synced_to"] = synced
    res.check("mv", synced is not None and feeds.frames_equal(got, want),
              f"{len(got)} view rows vs {len(want)} recomputed")


def _check_near_dups(ctx, res: Result, feed: feeds.Feed, table) -> None:
    """The pairs the index flagged batch by batch equal one one-shot
    ``minhash_dedup_pairs`` over the transcripts of every committed
    conversation (the index's defaults are the operator's defaults)."""
    from nifi_spark.operators.dedup_fuzzy import minhash_dedup_pairs
    from nifi_spark.operators.transcript import assemble_transcripts

    ev = feed.events[(feeds.applied_at(feed) >= 0) & (feed.events["op"] == "I")]
    turns = ctx.spark.createDataFrame(
        ev[["conv_id", "turn_idx", "role", "text", "tool"]],
        "conv_id string, turn_idx long, role string, text string, tool string")
    docs = assemble_transcripts(turns, tool_col="tool").select("conv_id", "transcript")
    want = sorted(tuple(r) for r in minhash_dedup_pairs(docs, "conv_id", "transcript").collect())
    d = os.path.join(table.path, "_near_dups")
    got = sorted(tuple(r) for r in ctx.spark.read.parquet(d).select("id_a", "id_b", "jaccard")
                 .collect()) if os.path.isdir(d) else []
    res.details["near_dup_pairs"] = len(got)
    res.check("near_dups", bool(want) and got == want,
              f"{len(got)} pairs flagged vs {len(want)} in the one-shot run")


# ---------------------------------------------------------------- queries

def query_scale(seconds: int, smoke: bool) -> float:
    return 0.001 if smoke else 0.00025 * seconds


class Queries:
    """One warm pass over :data:`QUERIES`, each checked against its DuckDB
    ``oracle_sql()`` result over the same files."""

    def __init__(self, ctx, n_steps: int):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.n_steps = n_steps
        self.entry = entry
        self.qs = entry.queries()
        self.data = os.path.join(ctx.work, "querydata", "main")
        self.warm_data = os.path.join(ctx.work, "querydata", "warm")

    def inputs(self, res: Result) -> None:
        import querydata

        counts = querydata.build(self.data, query_scale(self.ctx.seconds, self.ctx.smoke), self.ctx.seed)
        querydata.build(self.warm_data, 0.001, self.ctx.seed + 7919)
        res.details.update(input_rows=sum(counts.values()), queries=len(QUERIES))

    def warm(self) -> int:
        # one pass over tiny inputs compiles every plan and starts the
        # Python workers; the queries share no state, so the pass runs
        # them one per core at a time
        with ThreadPoolExecutor(self.ctx.cores) as pool:
            for f in [pool.submit(lambda n=n: self.qs[n](self.ctx.spark, self.warm_data).toPandas())
                      for n in QUERIES]:
                f.result()
        return len(QUERIES)

    def steps(self, res: Result):
        """The pass in ``n_steps`` equal shares, one step each."""
        self.results = {}
        for i, name in enumerate(QUERIES):
            t0 = time.perf_counter()
            self.results[name] = res.op(name, self.ctx.span(
                f"query.{name}", lambda n=name: self.qs[n](self.ctx.spark, self.data).toPandas()))
            res.query_walls[name] = time.perf_counter() - t0
            if (i + 1) * self.n_steps // len(QUERIES) > i * self.n_steps // len(QUERIES):
                yield i
        res.details["query_s"] = {k: round(v, 3) for k, v in res.query_walls.items()}

    def check(self, res: Result) -> None:
        import duckdb

        import querydata

        con = duckdb.connect()
        try:
            for t in querydata.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            osql = self.entry.oracle_sql()
            for name in QUERIES:
                want = con.sql(osql[name]).df()
                got = self.results[name]
                res.check(f"oracle.{name}", _same_frame(got, want), f"{len(got)} rows vs {len(want)}")
        finally:
            con.close()


def _same_frame(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exact equality under row reordering (the query-oracle comparison)."""
    def norm(df: pd.DataFrame) -> pd.DataFrame:
        out = df.copy()
        for c in out.columns:
            if pd.api.types.is_datetime64_any_dtype(out[c]):
                out[c] = out[c].astype("datetime64[ns]")
            elif pd.api.types.is_bool_dtype(out[c]):
                out[c] = out[c].astype(bool)
        return out.sort_values(list(out.columns)).reset_index(drop=True)

    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(norm(a), norm(b), check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True
