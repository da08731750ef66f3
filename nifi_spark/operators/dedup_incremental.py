"""Incremental near-duplicate detection at ingest: a persisted LSH index.

Batch MinHash-LSH (operators/dedup_fuzzy) answers "which documents in THIS
corpus are near-dups of each other" — one self-join over the whole corpus.
An ingest pipeline asks a different question every micro-batch: "which of
these NEW documents near-duplicate anything ingested SO FAR?". Recomputing
the self-join per batch is O(corpus) per batch — at 10^10 documents that is
the whole job again each trigger. :class:`LshIndex` makes it O(batch):

- the index is a set of immutable PARTS named by one JSON manifest,
  ``path/_commits/v{N:08d}.json`` — its only commit point, staged with
  ``FsIO.write_text`` and published by ``FsIO.rename_no_overwrite``, as
  the lake table commits (Structured Streaming versions operator state
  the same way). A batch's part holds, per document, its ``n_bands`` LSH
  band rows ``(doc_id, band, bhash)`` under ``bands/batch=N/pb=K/`` and its
  distinct hashed-shingle array (the exact-verify side) under
  ``shingles/batch=N/sb=K/``; the manifest records each part's id, its two
  directories and the sub-buckets each holds. Idempotent by ``batch_id``:
  a replay finds its id in the head and re-derives the same pairs; a
  write that crashed before its publish left files no manifest names;
- :meth:`LshIndex.compact` folds the parts up to a cursor into one part
  under a fresh directory, publishes a manifest naming it with
  ``compacted_upto``, and only then deletes every data directory the head
  does not name;
- both sides are SUB-BUCKETED by hash (``pb = pmod(xxhash64(bhash),
  n_sub_buckets)`` on the band side, ``sb = pmod(xxhash64(doc_id),
  n_sub_buckets)`` on the shingle side), so a probe reads only the index
  files whose buckets the new batch can possibly hit — the scan is
  O(index / n_sub_buckets × buckets-hit), not O(index). The writes
  repartition by the sub-bucket, so each ``pb=``/``sb=`` directory of a
  part holds ONE file, whatever the batch's task count;
- a batch probe joins the NEW band rows (small, broadcast) against the
  pruned index scan on ``(band, bhash)``: the corpus is never re-shingled
  and never shuffled — per-batch cost is O(batch + matched buckets). Both
  sides prune STATICALLY: the new batch's ``pb`` set and the candidate
  ids' ``sb`` set (each bounded by ``n_sub_buckets``; the first is known
  from the manifest, the second is one bounded collect) select the
  ``pb=K``/``sb=K`` directories the head names, read as explicit paths
  with an explicit schema — no partition discovery, no schema inference;
- the sb prune requires materializing the candidate set inside
  ``add_batch`` (one eager Spark job per batch — its sub-bucket values
  cannot be known before the probe join runs; the checkpointed candidates
  and verify arrays are held until :meth:`LshIndex.release`). That fixed
  job cost is the price of reading O(candidates / n_sub_buckets) verify files
  instead of the whole shingle side: at toy scale it ADDS a couple of
  seconds per batch versus a fully-lazy unpruned probe; at 10^10 docs
  the unpruned verify scan IS the job, so the trade inverts by orders
  of magnitude;
- candidates are verified by exact hashed-shingle Jaccard
  (dedup_fuzzy.verify_jaccard_pairs — identical arithmetic to the batch
  operator), so the union of per-batch pair outputs over any
  batch split EQUALS the one-shot ``minhash_dedup_pairs`` over the union
  of documents (the invariant tests/test_dedup_incremental.py pins), as
  long as no bucket outgrows ``max_bucket`` between the splits (the guard
  applies to the bucket size at probe time — streaming-LSH's standard
  semantics).

Reference parity: the reference's duplicate detection is key-equality with
a distributed map cache (nifi-standard-bundle .../DetectDuplicate.java:152-210
— put/check a hash in DistributedMapCacheClient); this is the same
check-against-history contract lifted to NEAR-duplicates, with the cache a
Spark-readable table instead of an external service.

Scale shape at 10^10 docs: band rows are ~n_bands × 40 B/doc and shingle
arrays ~8 B/shingle — both linear, partitioned by (ingest batch,
sub-bucket); the probe broadcasts only the new batch's band rows and
bucket counts and scans only the hit sub-buckets; compaction of many small
batch directories is the same maintenance story as the lake table's
(re-write old parts wider — layout, not semantics; sub-buckets are
preserved so compacted history prunes identically).
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import FsIO
from ..fsio import join as fsio_join
from ..session import release_checkpoint
from ..sinks.laketable import CommitConflict
from .dedup_fuzzy import (
    _guard_internal,
    band_rows,
    md5_long,
    minhash_signature,
    shingles,
    verify_jaccard_pairs,
)

_MANIFEST = re.compile(r"v\d{8}\.json")
# the two sides of a part, each with its sub-bucket column, in write order
_SIDES = (("shingles", "sb"), ("bands", "pb"))


class LshIndex:
    """Persistent MinHash-LSH index for at-ingest near-dup detection.

    ``add_batch(docs, batch_id)`` returns the verified near-dup pairs
    ``(id_a, id_b, jaccard)`` in which at least one side belongs to the
    given batch (new-vs-old AND new-vs-new; old-vs-old pairs were emitted
    by the batch that made them old), then durably extends the index.
    Pair ids are ordered ``id_a < id_b``; jaccard is the exact distinct
    hashed-shingle ratio rounded to 6 — bit-identical to
    ``minhash_dedup_pairs``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_hashes: int = 16,
        shingle_n: int = 3,
        n_bands: int = 4,
        threshold: float = 0.5,
        max_bucket: int | None = 64,
        n_sub_buckets: int = 16,
    ):
        if n_hashes % n_bands:
            raise ValueError(f"n_bands {n_bands} must divide n_hashes {n_hashes}")
        if n_sub_buckets < 1:
            raise ValueError(f"n_sub_buckets must be >= 1, got {n_sub_buckets}")
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.n_hashes = n_hashes
        self.shingle_n = shingle_n
        self.n_bands = n_bands
        self.rows_per_band = n_hashes // n_bands
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.n_sub_buckets = n_sub_buckets
        self._io = FsIO(spark, path)
        self.commits_dir = fsio_join(path, "_commits")
        self._held: list[DataFrame] = []
        # the newest manifest this instance read or published, by file
        # name (a published manifest is immutable), and the _commits/
        # entries of the last head read, which the next publish replaces
        self._cached: tuple[str, dict] | None = None
        self._listed: list[str] = []

    # -- state ------------------------------------------------------------

    def _head(self) -> dict:
        """The head manifest, the newest entry of one ``_commits/``
        listing: ``{"version", "id_type", "compacted_upto", "parts"}``, each
        part ``{"id", "bands", "pb", "shingles", "sb"}`` — directories
        relative to the index root; a compacted part's id is the highest
        batch it covers. Version 0 is the empty index; one with ``bands/``
        but no ``_commits/`` predates the manifest and is refused."""
        names = self._io.list_names(self.commits_dir)
        self._listed = names
        versions = sorted(n for n in names if _MANIFEST.fullmatch(n))
        if not versions:
            if not self._io.exists(self.commits_dir) and self._io.exists(
                fsio_join(self.path, "bands")
            ):
                raise ValueError(
                    f"LshIndex at {self.path} predates the commit manifest "
                    "(bands/ without _commits/); rebuild the index"
                )
            return {"version": 0, "id_type": None, "compacted_upto": None, "parts": []}
        name = versions[-1]
        if self._cached is None or self._cached[0] != name:
            text = self._io.read_text(fsio_join(self.commits_dir, name))
            self._cached = (name, json.loads(text))
        return self._cached[1]

    def _publish(self, head: dict, parts: list[dict], **fields) -> dict:
        """Stage manifest v+1 naming ``parts`` (``fields`` override the
        head's others) and publish it by no-overwrite rename — the index's
        one commit point — then delete what the head's listing held (the
        replaced manifest, a crashed publish's staging). Single writer: a
        lost rename raises :class:`CommitConflict`."""
        m = {**head, **fields, "version": head["version"] + 1, "parts": parts}
        name = f"v{m['version']:08d}.json"
        tmp = fsio_join(self.commits_dir, f".tmp-{uuid.uuid4().hex}.json")
        self._io.write_text(tmp, json.dumps(m))
        if not self._io.rename_no_overwrite(tmp, fsio_join(self.commits_dir, name)):
            self._io.delete(tmp)
            raise CommitConflict(
                f"LshIndex at {self.path}: {name} was published by another writer"
            )
        self._cached = (name, m)
        for old in self._listed:
            self._io.delete(fsio_join(self.commits_dir, old))
        self._listed = [name]
        return m

    def committed_batches(self) -> list[int]:
        """Batch ids of the head's parts (after a compaction, the folded
        range shows as its highest id)."""
        return [p["id"] for p in self._head()["parts"]]

    def _write_side(self, df: DataFrame, side: str, col: str, rel: str, n: int | None = None) -> dict:
        """Write ``df`` under ``rel`` partitioned by its sub-bucket column
        ``col``, one file per sub-bucket (no fixed count unless ``n``
        — AQE sizes the writer stage), and return the part entries for
        it: the directory and its sub-buckets, from one listing."""
        part = df.repartition(*([n] if n else []), col).write.partitionBy(col)
        part.mode("overwrite").parquet(fsio_join(self.path, rel))
        subs = sorted(
            int(name.split("=", 1)[1])
            for name in self._io.list_names(fsio_join(self.path, rel))
            if name.startswith(f"{col}=")
        )
        return {side: rel, col: subs}

    def _scan(
        self, side: str, parts: list[dict], buckets: list[int] | None, id_type: str
    ) -> DataFrame:
        """Rows of ``side`` in the sub-bucket directories the ``parts``
        name (all, or those in ``buckets``): explicit paths and an
        explicit schema, so the read lists only those directories and
        launches no schema-inference job."""
        col = dict(_SIDES)[side]
        cols = "band int, bhash string" if side == "bands" else "_sh array<bigint>"
        schema = f"`{self.id_col}` {id_type}, {cols}"
        paths = [
            fsio_join(self.path, p[side], f"{col}={k}")
            for p in parts
            for k in p[col]
            if buckets is None or k in buckets
        ]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def _pb(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_sub_buckets)).cast("int")

    def _hold(self, df: DataFrame) -> DataFrame:
        """Lazy local checkpoint of ``df``, kept until :meth:`release`."""
        df = df.localCheckpoint(eager=False)
        self._held.append(df)
        return df

    def release(self) -> None:
        """Drop the probe intermediates the last :meth:`add_batch` keeps
        for its lazily returned pairs; call once the pairs are consumed.
        Unreleased ones (a later ``add_batch`` forgets them, as the pairs
        of an earlier batch may still be read) last until the JVM
        collects them."""
        while self._held:
            release_checkpoint(self._held.pop())

    # -- ingest -----------------------------------------------------------

    def add_batch(
        self, docs: DataFrame, batch_id: int, return_pairs: bool = True
    ) -> DataFrame | None:
        """Index a batch; return its near-dup pairs vs everything so far.

        ``batch_id`` must be greater than every previously committed id
        (monotone ingest cursor — the streaming pipeline's micro-batch
        id) OR an already-committed id: that is the idempotent-retry /
        replay path — the write is skipped and the SAME pairs re-derive
        (the probe scans only parts with id <= batch_id, so a replay is
        blind to batches committed after it).
        Document ids must be new (an UPDATED document is a delete+insert
        at the dedup layer — re-ingesting an id would pair it with its
        own stale band rows); this is the caller's contract, same as
        DetectDuplicate's cache-key discipline.
        """
        self._held = []
        head = self._head()
        upto = head["compacted_upto"]
        if upto is not None and batch_id <= upto:
            # the compacted part holds the MERGED history, so a "replay"
            # of any covered id would probe the whole corpus as if it were
            # new and re-emit every historical pair — refuse, like time
            # travel past an expired snapshot
            raise ValueError(
                f"batch_id {batch_id} is at or below the compaction "
                f"watermark {upto}; compacted batches cannot be replayed"
            )
        done = [p["id"] for p in head["parts"]]
        if done and batch_id < done[-1] and batch_id not in done:
            raise ValueError(
                f"batch_id {batch_id} below committed cursor {done[-1]} "
                "and not a replay of a committed batch"
            )
        _guard_internal(docs, ["_sh", "sig", "band", "bhash", "pb", "sb"], "LshIndex")
        id_type = dict(docs.dtypes)[self.id_col]
        if batch_id not in done:
            if not head["version"]:
                # before any data lands: an index with bands/ but no
                # _commits/ is one that predates the manifest
                self._io.mkdirs(self.commits_dir)
            with_sig = minhash_signature(
                docs, self.text_col, self.n_hashes, self.shingle_n
            ).withColumn(
                "_sh",
                F.array_distinct(
                    F.transform(
                        shingles(F.col(self.text_col), self.shingle_n),
                        lambda s: md5_long(s),
                    )
                ),
            ).persist()  # two write actions below share one shingle+hash pass
            try:
                part = {"id": batch_id}
                part.update(self._write_side(
                    with_sig.select(
                        self.id_col, "_sh", self._pb(F.col(self.id_col)).alias("sb")
                    ),
                    "shingles", "sb", f"shingles/batch={batch_id}",
                ))
                part.update(self._write_side(
                    band_rows(
                        with_sig, self.id_col, "sig", self.n_bands, self.rows_per_band
                    ).withColumn("pb", self._pb(F.col("bhash"))),
                    "bands", "pb", f"bands/batch={batch_id}",
                ))
            finally:
                with_sig.unpersist()
            head = self._publish(head, head["parts"] + [part], id_type=id_type)
        if not return_pairs:
            return None
        parts = [p for p in head["parts"] if p["id"] <= batch_id]
        new = parts[-1]  # this batch's part

        # ---- probe: new band rows vs the index scan (old ∪ this batch).
        # The new side is one micro-batch — broadcast it; the index scan
        # streams (never shuffled, never re-shingled) and is PRUNED to the
        # sub-buckets the new batch actually hits: the batch's pb set, as
        # its part records it (dynamic partitioning creates pb=X only for
        # present values), selects the index directories to read.
        pbs = new["pb"]
        self.last_pb_buckets = pbs  # pruning witness (tests/ops visibility)
        if not pbs:  # empty batch: nothing can match anything
            self.last_probe_plan = None  # witnesses reflect THIS batch,
            self.last_sh_buckets = []  # not a stale predecessor
            return self.spark.createDataFrame(
                [], f"id_a {id_type}, id_b {id_type}, jaccard double"
            )
        new_bands = self._scan("bands", [new], None, id_type)
        all_bands = self._scan("bands", parts, pbs, id_type)
        probe = F.broadcast(
            new_bands.select(
                F.col(self.id_col).alias("_nid"), "band", "bhash"
            )
        )
        hits = all_bands.join(probe, ["band", "bhash"]).filter(
            F.col(self.id_col) != F.col("_nid")
        )
        if self.max_bucket is not None:
            # probe-time quadratic-bomb guard: count the bucket over the
            # index scan restricted to probed keys, drop oversized ones
            sizes = (
                all_bands.join(
                    F.broadcast(new_bands.select("band", "bhash").distinct()),
                    ["band", "bhash"],
                )
                .groupBy("band", "bhash")
                .agg(F.count(F.lit(1)).alias("_bn"))
            )
            hits = hits.join(
                F.broadcast(sizes.filter(F.col("_bn") <= self.max_bucket)),
                ["band", "bhash"],
            )
        cand_plan = (
            hits.select(
                F.least(F.col(self.id_col), F.col("_nid")).alias("id_a"),
                F.greatest(F.col(self.id_col), F.col("_nid")).alias("id_b"),
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
        # plan-shape witness for tests/bench: the probe must broadcast the
        # batch and hash-join the pruned index scan (never sort/cartesian)
        self.last_probe_plan = (
            cand_plan._jdf.queryExecution().executedPlan().toString()
        )
        # Materialize the candidate set ONCE (executor-side blocks, not
        # the driver): lazy checkpoint, so the sub-bucket collect below
        # both RUNS the probe join and persists its result -- bounded by
        # batch x n_bands x max_bucket -- in a single job; the verify
        # join then reuses the checkpointed blocks without recomputation.
        cand = self._hold(cand_plan)
        # which shingle sub-buckets can the verify possibly touch? sb is a
        # pure function of the id, so the candidate ids' distinct sb set
        # (<= n_sub_buckets values, one bounded collect) prunes the
        # verify-side scan statically, exactly like pb prunes the band scan.
        sbs = sorted(
            r.s
            for r in cand.select(
                F.explode(
                    F.array(self._pb(F.col("id_a")), self._pb(F.col("id_b")))
                ).alias("s")
            )
            .distinct()
            .collect()
        )
        self.last_sh_buckets = sbs  # pruning witness (tests/ops visibility)
        if not sbs:
            return cand.withColumn("jaccard", F.lit(0.0)).filter(F.lit(False))
        # one broadcast semi-join restricts the pruned shingle scan to the
        # candidate ids BEFORE the verify's two joins — the big side is
        # touched once (scan + BHJ, no shuffle), and everything verify
        # touches afterwards is candidate-bounded (the lazy localCheckpoint
        # materializes the restricted arrays on first use so the a-side and
        # b-side joins share one scan)
        cand_ids = (
            cand.select(F.col("id_a").alias(self.id_col))
            .union(cand.select(F.col("id_b").alias(self.id_col)))
            .distinct()
        )
        sh_small = self._hold(
            self._scan("shingles", parts, sbs, id_type)
            .join(F.broadcast(cand_ids), self.id_col, "left_semi")
        )
        return verify_jaccard_pairs(cand, sh_small, self.id_col, self.threshold)

    # -- maintenance --------------------------------------------------------

    def compact(self, upto: int | None = None, n_files: int = 8) -> int:
        """Fold the parts with id <= ``upto`` (default: all) into ONE part
        whose id is the highest it covers (sub-buckets preserved, so
        compacted history prunes identically); return the number of parts
        merged (0 = nothing to do).

        A thousand-batch ingest leaves a thousand small ``batch=N``
        directories per side — the probe still prunes correctly but pays
        file-listing and tiny-file overhead (the merge-on-read debt
        LakeTable repays via ``compact_buckets``). The folded part goes
        under a fresh directory, and the manifest naming it sets
        ``compacted_upto`` to its id: add_batch refuses replays at or below
        it (the part holds the whole covered history, so replaying its id
        would re-probe every historical doc as new), the trade
        ``expire_snapshots`` makes for time travel.

        Single-writer, never run beside :meth:`add_batch`. Nothing is
        deleted before the publish; after it, every data directory the
        head does not name goes — the folded parts and the leftovers of a
        write that crashed before its publish.
        """
        head = self._head()
        done = [p["id"] for p in head["parts"]]
        upto = (done or [0])[-1] if upto is None else upto
        merge = [p for p in head["parts"] if p["id"] <= upto]
        if len(merge) >= 2:
            target = merge[-1]["id"]
            part = {"id": target}
            fresh = f"compact={target}-{uuid.uuid4().hex[:12]}"
            for side, col in _SIDES:
                key = self.id_col if side == "shingles" else "bhash"
                part.update(self._write_side(
                    self._scan(side, merge, None, head["id_type"]).withColumn(
                        col, self._pb(F.col(key))
                    ),
                    side, col, f"{side}/{fresh}", n_files,
                ))
            head = self._publish(
                head, [part] + head["parts"][len(merge):], compacted_upto=target
            )
        for side, _ in _SIDES:
            live = {p[side].split("/", 1)[1] for p in head["parts"]}
            for name in self._io.list_names(fsio_join(self.path, side)):
                if name not in live:
                    self._io.delete(fsio_join(self.path, side, name))
        return len(merge) if len(merge) >= 2 else 0
