"""Transaction-boundary semantics for the change feed — batch side.

The reference's binlog source delimits transactions with BEGIN/COMMIT
events (reference nifi-cdc-mysql .../processors/CaptureChangeMySQL.java:947-1024
BEGIN/COMMIT/XID handling) and can either emit them downstream
(INCLUDE_BEGIN_COMMIT, CaptureChangeMySQL.java:342-351) or group a whole
transaction into one FlowFile (ONE_TRANSACTION_PER_FLOWFILE,
nifi-cdc-api .../event/io/FlowFileEventWriteStrategy.java;
CaptureChangeMySQL.java:140 "grouped as a full transaction (BEGIN to
COMMIT)").

Spark-first restatement: a transaction id column on every event plus
explicit commit-marker rows. Two set-oriented operators:

- :func:`txn_complete_filter` — transaction-consistent admission: only
  events whose transaction's COMMIT marker is present in the same frame
  are applied; events of open (uncommitted) transactions are withheld.
  This is the atomicity NiFi gets from only forwarding a transaction's
  FlowFile once COMMIT is seen — a crashed writer's dangling half
  transaction never reaches the sink.
- :func:`txn_group` — ONE_TRANSACTION_PER_FLOWFILE: collapse each
  committed transaction into one row carrying the ordered event payload,
  its span, and its event count.

Scale notes: the commit set has one row per transaction (orders of
magnitude smaller than the event stream); the semi/anti joins shuffle
on ``txn_col`` once and AQE may broadcast the commit side when small.
``txn_group``'s collect_list is bounded by transaction size (binlog
transactions are small — bounded by the writer's batch, not the feed),
and the sort happens inside ``array_sort``, JVM-side, no Python.

The streaming counterpart (open transactions carried across micro-batches
in a checkpoint-adjacent pending store) is ``CdcPipeline._txn_gate`` in
``streaming/job.py``, which runs :func:`txn_complete_filter` per batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _is_commit(op_col: str, commit_op: str) -> Column:
    return F.col(op_col) == commit_op


def txn_complete_filter(
    events: DataFrame,
    txn_col: str = "txn_id",
    op_col: str = "op",
    commit_op: str = "C",
    begin_op: str | None = "B",
) -> tuple[DataFrame, DataFrame]:
    """Split a change frame into (committed data events, pending data events).

    ``committed``: events of transactions whose COMMIT marker row
    (``op_col == commit_op``) is present, boundary rows excluded.
    ``pending``: data events of transactions with no COMMIT yet — the
    caller carries them into the next frame (streaming) or treats the
    transaction as aborted (end-of-log replay). Events with a NULL
    ``txn_col`` are non-transactional (≙ MyISAM rows outside any
    BEGIN/COMMIT, reference CaptureChangeMySQL.java:963-979) and admit
    immediately.

    ONE scan of the data side per returned frame: the commit set (one
    row per committed txn, distinct-aggregated — broadcast when small,
    AQE decides at runtime) left-joins the data once and a flag filter
    splits committed from pending; NULL-``txn_col`` rows never match the
    join key and fall through as committed-by-default. No union, no
    second scan, no anti-join pass.
    """
    commits = (
        events.filter(_is_commit(op_col, commit_op))
        .select(txn_col)
        .distinct()
        .withColumn("_committed", F.lit(True))
    )
    boundary = [commit_op] + ([begin_op] if begin_op else [])
    data = events.filter(~F.col(op_col).isin(boundary))
    flagged = data.join(commits, on=txn_col, how="left")
    out_cols = [F.col(c) for c in events.columns]
    committed = flagged.filter(
        F.col(txn_col).isNull() | F.col("_committed").isNotNull()
    ).select(*out_cols)
    pending = flagged.filter(
        F.col(txn_col).isNotNull() & F.col("_committed").isNull()
    ).select(*out_cols)
    return committed, pending


def txn_group(
    events: DataFrame,
    txn_col: str = "txn_id",
    order_col: str = "seq",
    content_col: str = "text",
    op_col: str = "op",
    commit_op: str = "C",
    begin_op: str | None = "B",
    sep: str = ",",
    committed_only: bool = True,
    max_group_rows: int | None = None,
    max_group_bytes: int | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """ONE_TRANSACTION_PER_FLOWFILE: one output row per transaction with
    the ordered, concatenated event content (reference
    nifi-cdc-api .../event/io/FlowFileEventWriteStrategy.java; the
    CaptureChangeMySQL description's "grouped as a full transaction
    (BEGIN to COMMIT)", CaptureChangeMySQL.java:140).

    Output: ``txn_col, n_events, min_<order>, max_<order>, merged``.
    ``merged`` joins ``content_col`` in ``order_col`` order — computed as
    ``array_join(transform(array_sort(collect_list(struct(order,
    content)))))``: the sort key is the struct's leading field, all
    JVM-side. With ``committed_only`` (default) open transactions are
    dropped, mirroring :func:`txn_complete_filter`.

    With ``max_group_rows`` / ``max_group_bytes`` set, runaway
    transactions route out BEFORE collection (≙ MergeContent
    max-entries/size, MergeContent.java:115-127) and the return becomes
    ``(grouped, overflow)`` — binning.split_oversized_groups shape.
    """
    if committed_only:
        data, _ = txn_complete_filter(
            events, txn_col, op_col, commit_op, begin_op
        )
        data = data.filter(F.col(txn_col).isNotNull())
    else:
        boundary = [commit_op] + ([begin_op] if begin_op else [])
        data = events.filter(
            ~F.col(op_col).isin(boundary) & F.col(txn_col).isNotNull()
        )
    overflow = None
    if max_group_rows is not None or max_group_bytes is not None:
        from .binning import split_oversized_groups

        data, overflow = split_oversized_groups(
            data, txn_col, content_col, max_group_rows, max_group_bytes
        )
    pairs = F.collect_list(F.struct(F.col(order_col), F.col(content_col)))
    merged = F.array_join(
        F.transform(
            F.array_sort(pairs), lambda s: s[content_col].cast("string")
        ),
        sep,
    )
    out = data.groupBy(txn_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(order_col).alias(f"min_{order_col}"),
        F.max(order_col).alias(f"max_{order_col}"),
        merged.alias("merged"),
    )
    return out if overflow is None else (out, overflow)
