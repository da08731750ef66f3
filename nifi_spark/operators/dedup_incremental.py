"""Incremental near-duplicate detection at ingest: a persisted LSH index.

Batch MinHash-LSH (operators/dedup_fuzzy) answers "which documents in THIS
corpus are near-dups of each other" — one self-join over the whole corpus.
An ingest pipeline asks a different question every micro-batch: "which of
these NEW documents near-duplicate anything ingested SO FAR?". Recomputing
the self-join per batch is O(corpus) per batch — at 10^10 documents that is
the whole job again each trigger. :class:`LshIndex` makes it O(batch):

- the index persists, per ingested document, its ``n_bands`` LSH band rows
  ``(doc_id, band, bhash)`` under ``path/bands/batch=N/pb=K/`` and its
  distinct hashed-shingle array (the exact-verify side) under
  ``path/shingles/batch=N/sb=K/`` — append-only, one partition directory
  per batch, idempotent by ``batch_id`` (a replayed batch detects its
  ``_SUCCESS`` marker, skips the write, and re-derives the same pairs);
- both sides are SUB-BUCKETED by hash (``pb = pmod(xxhash64(bhash),
  n_sub_buckets)`` on the band side, ``sb = pmod(xxhash64(doc_id),
  n_sub_buckets)`` on the shingle side), so a probe reads only the index
  files whose buckets the new batch can possibly hit — the scan is
  O(index / n_sub_buckets × buckets-hit), not O(index). Without the
  sub-bucket layout every micro-batch re-listed and re-scanned the whole
  persisted index (the r4 scale-shape finding). The writes repartition by
  the sub-bucket, so each ``pb=``/``sb=`` directory of a batch holds ONE
  file, whatever the batch's task count: a probe or a compaction lists
  and opens one file per sub-bucket and batch;
- a batch probe joins the NEW band rows (small, broadcast) against the
  pruned index scan on ``(band, bhash)``: the corpus is never re-shingled
  and never shuffled — per-batch cost is O(batch + matched buckets). Both
  sides prune STATICALLY: the new batch's ``pb`` set and the candidate
  ids' ``sb`` set (each bounded by ``n_sub_buckets``, each one bounded
  collect) are pushed as partition ``IN`` filters;
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
(re-write old partitions wider — layout, not semantics; sub-buckets are
preserved so compacted history prunes identically).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsio import FsIO
from ..fsio import join as fsio_join
from ..session import release_checkpoint
from .dedup_fuzzy import (
    _guard_internal,
    band_rows,
    md5_long,
    minhash_signature,
    shingles,
    verify_jaccard_pairs,
)


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
        self.bands_dir = fsio_join(path, "bands")
        self.sh_dir = fsio_join(path, "shingles")
        self._held: list[DataFrame] = []
        # the id column's type, learned from the docs of each add_batch:
        # with it every index read carries its schema, so none launches a
        # footer-inference job
        self._id_type: str | None = None

    # -- state ------------------------------------------------------------

    def committed_batches(self) -> list[int]:
        """Batch ids whose index partitions are durably written."""
        out = []
        for name in self._io.list_names(self.bands_dir):
            if name.startswith("batch="):
                bid = int(name.split("=", 1)[1])
                if self._io.exists(
                    fsio_join(self.bands_dir, name, "_SUCCESS")
                ):
                    out.append(bid)
        return sorted(out)

    def _compacted_upto(self) -> int | None:
        """Compaction watermark: highest batch id folded into a merged
        partition (replays at or below it are refused — see compact())."""
        p = fsio_join(self.path, "_compacted_upto")
        if not self._io.exists(p):
            return None
        return int(self._io.read_text(p).strip())

    def _set_compacted_upto(self, upto: int) -> None:
        cur = self._compacted_upto()
        if cur is None or upto > cur:
            self._io.write_text(fsio_join(self.path, "_compacted_upto"), str(upto))

    def _schema(self, base: str) -> str:
        """DDL of one batch partition of ``base`` (the bands or the
        shingles side): its file columns, then its sub-bucket column."""
        if base == self.bands_dir:
            cols = "band int, bhash string, pb int"
        else:
            cols = "_sh array<bigint>, sb int"
        return f"`{self.id_col}` {self._id_type}, {cols}"

    def _read_part(self, base: str, upto: int) -> DataFrame:
        """Partition-discovered read of ``base`` filtered to batch <= upto
        (partition pruning keeps later/replayed batches out of the scan).
        The schema is explicit once an add_batch has given the id type; a
        compact() on an instance that has not seen one infers it."""
        reader = self.spark.read
        if self._id_type is not None:
            reader = reader.schema(f"{self._schema(base)}, batch int")
        return reader.parquet(base).filter(F.col("batch") <= upto)

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
        (the probe scans only batches <= batch_id, so a replay is blind
        to batches committed after it).
        Document ids must be new (an UPDATED document is a delete+insert
        at the dedup layer — re-ingesting an id would pair it with its
        own stale band rows); this is the caller's contract, same as
        DetectDuplicate's cache-key discipline.
        """
        # an interrupted compact() left its commit marker: finish it FIRST,
        # so the watermark/partition state the guards read is consistent (a
        # crash after the bands pass but before the watermark write must
        # not open a replay window — the marker is the single commit point)
        self._held = []
        self._recover_compact()
        upto = self._compacted_upto()
        if upto is not None and batch_id <= upto:
            # the target partition now holds the MERGED history, so a
            # "replay" of any covered id would probe the whole corpus as
            # if it were new and re-emit every historical pair — refuse,
            # like time travel past an expired snapshot
            raise ValueError(
                f"batch_id {batch_id} is at or below the compaction "
                f"watermark {upto}; compacted batches cannot be replayed"
            )
        done = self.committed_batches()
        if done and batch_id < done[-1] and batch_id not in done:
            raise ValueError(
                f"batch_id {batch_id} below committed cursor {done[-1]} "
                "and not a replay of a committed batch"
            )
        if done:
            # legacy-layout guard (one listing): an index persisted before
            # the pb=/sb= sub-bucket layout would otherwise mix layouts on
            # the next write and fail partition discovery mid-probe
            oldest = self._io.list_names(
                fsio_join(self.bands_dir, f"batch={done[0]}")
            )
            if not any(n.startswith("pb=") for n in oldest) and any(
                n.endswith(".parquet") for n in oldest
            ):
                raise ValueError(
                    f"LshIndex at {self.path}: committed batch {done[0]} "
                    "uses the legacy flat layout (no pb= sub-buckets); "
                    "rebuild the index before adding new batches"
                )
        _guard_internal(
            docs, ["_sh", "sig", "band", "bhash", "batch", "pb", "sb"], "LshIndex"
        )
        self._id_type = dict(docs.dtypes)[self.id_col]

        band_part = fsio_join(self.bands_dir, f"batch={batch_id}")
        sh_part = fsio_join(self.sh_dir, f"batch={batch_id}")
        if not self._io.exists(fsio_join(band_part, "_SUCCESS")):
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
                # shingles FIRST: the bands-side _SUCCESS is the batch's
                # commit marker (committed_batches + the skip above), so it
                # must land last — a crash between the writes then replays
                # both (overwrite mode), never leaving a committed batch
                # whose verify side is missing
                # repartition by the sub-bucket so each sb=/pb= directory
                # gets ONE file (not one per upstream task); no fixed
                # count — AQE sizes the writer stage
                with_sig.select(
                    self.id_col, "_sh", self._pb(F.col(self.id_col)).alias("sb")
                ).repartition("sb").write.partitionBy("sb").mode(
                    "overwrite"
                ).parquet(sh_part)
                band_rows(
                    with_sig, self.id_col, "sig", self.n_bands, self.rows_per_band
                ).withColumn("pb", self._pb(F.col("bhash"))).repartition(
                    "pb"
                ).write.partitionBy("pb").mode("overwrite").parquet(band_part)
            finally:
                with_sig.unpersist()
        if not return_pairs:
            return None

        # ---- probe: new band rows vs the index scan (old ∪ this batch).
        # The new side is one micro-batch — broadcast it; the index scan
        # streams (never shuffled, never re-shingled) and is PRUNED to the
        # sub-buckets the new batch actually hits: the batch's distinct pb
        # set (<= n_sub_buckets values, one tiny job over its own files)
        # becomes a static partition IN filter on the index read.
        # explicit schema: an EMPTY batch writes only _SUCCESS (dynamic
        # partitioning emits no files for zero rows), which would fail
        # schema inference
        new_bands = self.spark.read.schema(self._schema(self.bands_dir)).parquet(band_part)
        # the batch's pb set comes from its partition DIRECTORIES (dynamic
        # partitioning creates pb=X only for present values) — one listing,
        # no Spark job
        pbs = sorted(
            int(name.split("=", 1)[1])
            for name in self._io.list_names(band_part)
            if name.startswith("pb=")
        )
        self.last_pb_buckets = pbs  # pruning witness (tests/ops visibility)
        if not pbs:  # empty batch: nothing can match anything
            self.last_probe_plan = None  # witnesses reflect THIS batch,
            self.last_sh_buckets = []  # not a stale predecessor
            idt = self._id_type
            return self.spark.createDataFrame([], f"id_a {idt}, id_b {idt}, jaccard double")
        all_bands = self._read_part(self.bands_dir, batch_id).filter(
            F.col("pb").isin(pbs)
        )
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
            self._read_part(self.sh_dir, batch_id)
            .filter(F.col("sb").isin(sbs))
            .select(self.id_col, "_sh")
            .join(F.broadcast(cand_ids), self.id_col, "left_semi")
        )
        return verify_jaccard_pairs(cand, sh_small, self.id_col, self.threshold)

    # -- maintenance --------------------------------------------------------

    def compact(self, upto: int | None = None, n_files: int = 8) -> int:
        """Merge the batch partitions <= ``upto`` into ONE partition
        (sub-buckets preserved, so compacted history prunes identically).

        A thousand-batch ingest leaves a thousand small ``batch=N``
        directories per side — the probe still prunes correctly but pays
        file-listing and tiny-file overhead (the same merge-on-read debt
        LakeTable repays via ``compact_buckets``). Compaction rewrites the
        covered range as a single ``batch=<upto>`` partition per side;
        probes and the union invariant are unchanged (every covered row
        keeps batch <= any later probe's cursor). Replay of batch ids AT
        or BELOW the compacted watermark becomes impossible (their
        partitions are merged away; the target id's partition now holds
        the whole covered history, so replaying it would re-probe every
        historical doc as new) — add_batch refuses them, the same trade
        ``expire_snapshots`` makes for time travel.

        Single-writer maintenance op. Crash-safe via ONE top-level commit
        marker: BOTH sides are staged under discovery-ignored
        ``_tmp_compact`` dirs first, then ``_compact_commit`` (covered ids
        + target) lands at the index root — the single COMMIT POINT.
        Every delete/rename happens after it, and recovery (the next
        ``compact`` OR ``add_batch`` call) replays deletes+renames for
        BOTH sides from that one marker — a crash after one side finished
        but before the other can neither reopen a replay window (the
        marker refuses it until recovery completes and sets the
        watermark) nor leave duplicate rows on the unfinished side (its
        delete list comes from the marker, not from either side's
        directory listing). A crash BEFORE the marker leaves only staged
        temp dirs, which the next run discards. Returns the number of
        batch partitions merged (0 = nothing to do).
        """
        self._recover_compact()

        done = self.committed_batches()
        upto = done[-1] if upto is None else upto
        merge = [b for b in done if b <= upto]
        if len(merge) < 2:
            return 0
        target = merge[-1]
        for base, pcol in ((self.bands_dir, "pb"), (self.sh_dir, "sb")):
            tmp = fsio_join(base, "_tmp_compact")
            self._io.delete(tmp)  # stale pre-marker staging from a crash
            (
                self._read_part(base, target)
                .drop("batch")
                .repartition(n_files, F.col(pcol))
                .write.partitionBy(pcol)
                .mode("overwrite")
                .parquet(fsio_join(tmp, f"batch={target}"))
            )
        self._io.write_text(
            fsio_join(self.path, "_compact_commit"),
            json.dumps({"covered": merge, "target": target}),
        )
        self._finish_compact(merge, target)
        return len(merge)

    def _recover_compact(self) -> None:
        """Finish an interrupted compact. Cheap when idle (one exists())."""
        marker = fsio_join(self.path, "_compact_commit")
        if self._io.exists(marker):
            rec = json.loads(self._io.read_text(marker))
            self._finish_compact(
                [int(b) for b in rec["covered"]], int(rec["target"])
            )

    def _finish_compact(self, covered: list[int], target: int) -> None:
        """Deletes + renames after the commit marker — idempotent, so a
        crash anywhere inside is replayed from the marker."""
        for base in (self.bands_dir, self.sh_dir):
            tmp = fsio_join(base, "_tmp_compact")
            staged = fsio_join(tmp, f"batch={target}")
            if self._io.exists(staged):
                for b in covered:
                    self._io.delete(fsio_join(base, f"batch={b}"))
                self._io.rename_dir(staged, fsio_join(base, f"batch={target}"))
            else:
                # this side's rename already committed — clear any covered
                # leftovers EXCEPT the live target partition
                for b in covered:
                    if b != target:
                        self._io.delete(fsio_join(base, f"batch={b}"))
            self._io.delete(tmp)
        self._set_compacted_upto(target)
        self._io.delete(fsio_join(self.path, "_compact_commit"))
