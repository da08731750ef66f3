"""Incremental materialized-view maintenance over a LakeTable changelog.

The CDC-out half (LakeTable.changes) makes a landed table a change
source; this module closes the loop the other way NiFi users chain
flows: a downstream AGGREGATE view kept in sync with the upstream table
without full recomputation. The maintenance rule is *partial
recompute*: each refresh touches only the keys that changed in the
version range — read the changelog for the range, re-aggregate the live
rows of exactly those keys, and MERGE the fresh aggregate rows (plus
deletes for keys that vanished) into the view table.

Why partial recompute instead of +/- delta arithmetic: delta
maintenance needs both before- and after-images per event and breaks on
non-invertible aggregates (max, count-distinct); recomputing only the
touched keys is correct for ANY aggregate, and the work is O(changed
keys x their live rows), not O(table). At 100 TB with a Zipf update
pattern this is the standard lakehouse MV shape (Delta/Snowflake
incremental MV engines do the same keyed partial refresh). Both reads
prune: the changelog read is the delta fast path when the range is
append-only, and the live read is a bucket-pruned semi join on the
touched keys.

Reference shape: NiFi chains a QueryRecord aggregate flow downstream of
a CDC flow via a connection (reference
nifi-standard-bundle/.../QueryRecord.java:118-160 consuming
CaptureChangeMySQL output); the lake-native equivalent is this
changelog-driven refresh.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nifi_spark.session import release_checkpoint
from nifi_spark.sinks.laketable import LakeTable


def refresh_agg_mv(
    src: LakeTable,
    mv: LakeTable,
    key_cols: list[str],
    agg_fn: Callable[[DataFrame], DataFrame],
    from_version: int,
    to_version: int | None = None,
) -> int:
    """Incrementally refresh an aggregate view of ``src`` into ``mv``.

    ``agg_fn`` maps a DataFrame of live ``src`` rows to one aggregate
    row per ``key_cols`` group (it must keep the key columns in its
    output). Only keys with changes in ``(from_version, to_version]``
    are recomputed; keys whose live rows all disappeared are deleted
    from the view. Returns the new changelog cursor (``to_version``) —
    feed it back as ``from_version`` next refresh.

    Exactly-once across retries comes from the sink: the MERGE commits
    with ``batch_id=to_version`` and seq ``to_version``, so a replayed
    refresh of the same range is idempotent (same fold outcome), and a
    later range always wins LWW over an earlier one.
    """
    if to_version is None:
        to_version = src.current_version()
    if to_version <= from_version:
        return from_version  # nothing committed in the range

    # The changed keys, materialized once: the bucket collect, the live
    # semi join and the view-delete anti join all read them, and each
    # would otherwise re-run the changelog's snapshot diff.
    touched = (
        src.changes(from_version, to_version).select(*key_cols).distinct()
        .localCheckpoint(eager=False)
    )
    try:
        # One bounded collect (<= src x view bucket pairs) of the touched
        # keys' buckets on both tables. The source buckets prune the live
        # scan when the view key is the table's bucketing key — the
        # refresh reads O(touched buckets), never O(table); the view
        # buckets are the view merge's touched set, so the merge runs no
        # probe of its own.
        k = key_cols[0]
        hit = touched.select(
            src._bucket_col(k).alias("s"), mv._bucket_col(k).alias("v")
        ).distinct().collect()
        buckets = (
            sorted({r.s for r in hit})
            if k == src._manifest(to_version)["key_cols"][0] else None
        )
        live = src.read(version=to_version, buckets=buckets).join(
            touched, key_cols, "left_semi"
        )
        fresh = agg_fn(live)
        missing = [c for c in key_cols if c not in fresh.columns]
        if missing:
            raise ValueError(
                f"agg_fn output must keep key columns; missing {missing}"
            )

        val_cols = [c for c in fresh.columns if c not in key_cols]
        upserts = fresh.select(
            *key_cols,
            *[F.col(c) for c in val_cols],
            F.lit("U").alias("op"),
            F.lit(to_version).cast("long").alias("seq"),
        )
        # keys touched in the range but with no live rows left -> view delete
        gone = touched.join(fresh.select(*key_cols), key_cols, "left_anti").select(
            *key_cols,
            *[F.lit(None).cast(upserts.schema[c].dataType).alias(c) for c in val_cols],
            F.lit("D").alias("op"),
            F.lit(to_version).cast("long").alias("seq"),
        )
        mv.merge_events(
            upserts.unionByName(gone), key_cols, seq_col="seq", op_col="op",
            batch_id=to_version, touched=sorted({r.v for r in hit}),
        )
    finally:
        release_checkpoint(touched)
    return to_version


def transcript_stats_agg(key_col: str = "conv_id") -> Callable[[DataFrame], DataFrame]:
    """Aggregate view over the north-star transcripts schema
    (schema.TRANSCRIPTS: conv_id, turn_idx, role, text, tool, ts):
    per-conversation turn count, highest turn index, and total text
    size. The default view the streaming pipeline's ``mv_path`` option
    maintains."""

    def agg(live: DataFrame) -> DataFrame:
        return live.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("max_turn"),
            F.sum(F.length(F.col("text"))).alias("sum_chars"),
        )

    return agg


def sft_sample_agg(
    key_col: str = "conv_id", **assemble_kwargs
) -> Callable[[DataFrame], DataFrame]:
    """Live SFT-sample view: :func:`~nifi_spark.operators.transcript.
    assemble_transcripts` as the MV aggregate — the flagship end-to-end
    composition for the transcripts payload: binlog tail → LWW-folded
    turn rows → an incrementally-maintained table of RENDERED training
    samples (transcript text, counters, train/val split), refreshed per
    commit by partial recompute of only the touched conversations.

    A conversation's sample is a non-invertible aggregate of its turns
    (ordered string render), exactly the case partial recompute handles
    and +/- delta arithmetic cannot. Usable directly as ``agg_fn`` for
    :func:`refresh_agg_mv`; ``assemble_kwargs`` pass through (budget
    knobs, train_frac, sep...).
    """
    from nifi_spark.operators.transcript import assemble_transcripts

    def agg(live: DataFrame) -> DataFrame:
        return assemble_transcripts(live, conv_col=key_col, **assemble_kwargs)

    return agg


def conv_stats_agg(key_col: str = "conv_id") -> Callable[[DataFrame], DataFrame]:
    """The transcript-pipeline view: per-conversation turn count, max
    seq, and total text size — the dashboard row a CDC ingest keeps
    live. Usable directly as ``agg_fn`` for :func:`refresh_agg_mv`."""

    def agg(live: DataFrame) -> DataFrame:
        return live.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("last_seq").alias("max_seq"),
            F.sum(F.length(F.col("last_type"))).alias("sum_type_chars"),
        )

    return agg
