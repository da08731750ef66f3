"""Custom stateful streaming operators (applyInPandasWithState).

The north star calls for NiFi's stateful semantics on real streams; this
module carries the two that need keyed state across micro-batches:

- :func:`stateful_stale_filter` — streaming EnforceOrder (reference
  .../standard/EnforceOrder.java:73-86): per-key max-seq state; events at
  or below the key's high-water mark are dropped (NiFi's ``skipped``
  relationship for overtaken/late arrivals, :205). Unlike the sink-side
  merge guard (`source.seq > target._seq`), this filters *before* the
  shuffle-heavy fold/merge stages, so replayed or duplicated source data
  never re-enters the pipeline.
- :func:`stateful_detect_duplicate` — streaming DetectDuplicate
  (reference .../standard/DetectDuplicate.java): per-key first-seen state;
  only the first occurrence passes (an age-off TTL would map to
  ``GroupStateTimeout.ProcessingTimeTimeout`` — omitted here since the
  CDC path needs no expiry).

Both use Arrow-batched pandas per group — the state values are tiny
(one long per key); the grouped rows stream through pandas iterators
without materializing a key's full history.

Scale note: applyInPandasWithState shuffles raw rows by key and holds
one state entry per key in the state store. At 10^10 events the state
store (RocksDB on a real cluster) holds one long per (conv_id, turn_idx)
— bounded by key cardinality, not event count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_stale_filter(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
) -> DataFrame:
    """Drop events at/below the per-key max-seq high-water mark (streaming).

    Emits only rows with ``seq`` strictly greater than every previously
    seen seq for the key, updating the mark to the batch max. Within one
    batch, all rows above the stored mark pass (the downstream LWW fold
    collapses them); the mark advances once per batch.
    """
    out_schema = df.schema
    state_schema = "max_seq long"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (max_seq,) = state.get if state.exists else (None,)
        new_max = max_seq
        for pdf in pdfs:
            fresh = pdf[pdf[seq_col] > max_seq] if max_seq is not None else pdf
            if len(fresh):
                m = int(fresh[seq_col].max())
                new_max = m if new_max is None else max(new_max, m)
                yield fresh
        if new_max is not None:
            state.update((new_max,))

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_bin_flush(
    df: DataFrame,
    correlation_cols: list[str],
    order_col: str,
    content_col: str,
    max_records: int,
    max_bin_age_ms: int | None = None,
    sep: str = ",",
) -> DataFrame:
    """Streaming MergeRecord: per-correlation-key open bins that flush on
    record count or processing-time age (reference
    .../standard/merge/RecordBinManager.java bin lifecycle + MergeRecord's
    MAX_BIN_AGE timer, MergeRecord.java:271,385).

    State per key = (open-bin record count, packed content, bin-creation
    time) — the bin's accumulated payload, bounded by ``max_records``
    entries. Count flushes emit inside the batch; age flushes happen on
    BOTH paths: the data path flushes an over-age bin before appending
    (so a trickle-fed bin still honors MAX_BIN_AGE *since bin creation*,
    not since last touch), and the state-timeout callback
    (``GroupStateTimeout.ProcessingTimeTimeout``) catches bins whose key
    goes quiet. The timeout deadline is anchored to the bin-creation time
    (``bin_start + max_bin_age_ms - now``), never re-armed to a full
    window by later appends — MergeRecord's MAX_BIN_AGE is absolute bin
    age (reference RecordBinManager.java bin lifecycle).
    Output rows: correlation key, n_records, merged content, flush_reason
    ('count' | 'age').
    """
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema if f.name in correlation_cols
    )
    out_schema = (
        f"{key_fields}, n_records int, merged string, flush_reason string"
    )
    state_schema = "n long, packed string, bin_start long"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def out_row(n: int, packed: str, reason: str) -> pd.DataFrame:
            vals = {c: [k] for c, k in zip(correlation_cols, key)}
            vals.update(n_records=[n], merged=[packed], flush_reason=[reason])
            return pd.DataFrame(vals)

        if state.hasTimedOut:
            n, packed, _ = state.get if state.exists else (0, "", 0)
            state.remove()
            if n:
                yield out_row(int(n), packed, "age")
            return

        now = state.getCurrentProcessingTimeMs()
        n, packed, bin_start = state.get if state.exists else (0, "", now)
        n = int(n)
        parts = packed.split(sep) if packed else []
        if (
            n
            and max_bin_age_ms is not None
            and now - int(bin_start) >= max_bin_age_ms
        ):
            yield out_row(n, sep.join(parts), "age")
            n, parts = 0, []
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col)
            for c in pdf[content_col].astype(str):
                if not n:
                    bin_start = now  # fresh bin opens at this batch
                parts.append(c)
                n += 1
                if n >= max_records:
                    yield out_row(n, sep.join(parts), "count")
                    n, parts = 0, []
        if n:
            state.update((n, sep.join(parts), int(bin_start)))
            if max_bin_age_ms is not None:
                remaining = int(bin_start) + max_bin_age_ms - now
                state.setTimeoutDuration(max(1, remaining))
        elif state.exists:
            state.remove()

    return df.groupBy(*correlation_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if max_bin_age_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_rate_limit(
    df: DataFrame,
    group_cols: list[str],
    max_per_window: int,
    window_ms: int,
) -> DataFrame:
    """Streaming ControlRate: admit at most ``max_per_window`` rows per
    group per *successive* processing-time window (reference
    ControlRate.java:140-193 throttle ledger). State = (admitted count,
    window-open time). The window rolls over on the DATA path — when
    ``now - win_start >= window_ms`` the counter resets and a new window
    opens — so sustained traffic keeps admitting N per window (NiFi's
    semantics), not N total. The processing-time timeout only garbage-
    collects state for keys that go quiet; it is never the thing that
    re-opens the window. Excess rows are dropped from the admitted stream
    (NiFi re-queues; a streaming source replays from the checkpoint, so
    dropping here is the backpressure signal).
    """
    out_schema = df.schema
    state_schema = "admitted long, win_start long"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        now = state.getCurrentProcessingTimeMs()
        admitted, win_start = state.get if state.exists else (0, now)
        admitted, win_start = int(admitted), int(win_start)
        if now - win_start >= window_ms:
            admitted, win_start = 0, now
        for pdf in pdfs:
            if admitted >= max_per_window:
                break
            take = min(len(pdf), max_per_window - admitted)
            if take:
                yield pdf.head(take)
                admitted += take
        state.update((admitted, win_start))
        state.setTimeoutDuration(window_ms)

    return df.groupBy(*group_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stateful_detect_duplicate(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Pass only the first-ever occurrence per key across all batches."""
    out_schema = df.schema
    state_schema = "seen boolean"

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in pdfs:
                pass
            return
        emitted = False
        for pdf in pdfs:
            if not emitted and len(pdf):
                yield pdf.head(1)
                emitted = True
        if emitted:
            state.update((True,))

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
