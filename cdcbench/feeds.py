"""Seeded CDC change-feed generator and its independent LWW oracle.

Deliberately does not import ``nifi_spark.feedgen``: a change to the
engine's own generator must not change the benchmark's inputs. Events
are built with NumPy from ``seed`` alone and written with pyarrow as the
raw binlog shape the pipeline reads (``payload_json``, ``source_file``,
``source_pos`` and, for transaction-delimited feeds, ``txn_id``), one
parquet file per micro-batch when drained with ``maxFilesPerTrigger=1``.

Every ``near_copy_mod``-th conversation can be a near-copy of the one
``NEAR_COPY_LAG`` conversations before it: the same turns, roles and
insert texts, with the first token of each text changed, so the near-dup
index has pairs to find.

Two orders:

- ``interleaved``: each key's edits get strictly increasing virtual
  times, and the log is sorted by them, so every file spreads its keys
  over every bucket and later files revisit earlier keys;
- ``contiguous``: conversations are written one after another (all
  inserts, then edits), each conversation one transaction closed by an
  ``op='C'`` marker. Files are cut by event count, so some transactions
  span a file boundary and the gate must carry them to the next batch.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
VOCAB = np.array(
    [f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "po", "ri", "sa", "te",
                         "vu", "we", "xo", "yi", "zu", "be", "co", "da")
     for b in ("ran", "lek", "mon", "tis", "vor", "bal", "dun", "fex",
               "gim", "hol", "jup", "kaz", "lum", "mep", "nor", "pix")],
    dtype=object,
)  # 256 words
MAX_TURNS = 8        # turns per conversation, [1, MAX_TURNS]
MAX_EDITS = 4        # events per turn (the insert plus edits), [1, MAX_EDITS]
DELETE_PCT = 20      # share of edits that are deletes, in percent
NEAR_COPY_LAG = 15   # a near-copy repeats the conversation this many before it


@dataclass(frozen=True)
class FeedSpec:
    n_events: int               # data events; whole conversations are kept up to this count
    hot_convs: int = 0          # conversations with extra edits (key skew)
    hot_extra: int = 0
    words: tuple[int, int] = (6, 12)  # tokens per turn text, [lo, hi)
    n_files: int = 1            # the log is cut into this many equal files
    order: str = "interleaved"  # or "contiguous" (transaction per conversation)
    dangling_mod: int = 0       # contiguous: every k-th conversation never commits
    near_copy_mod: int = 0      # every k-th conversation near-copies an earlier one


@dataclass
class Feed:
    """A materialized feed: its directory, the event table the oracle
    folds, and the identity (row count + content hash) of its files."""

    path: str
    events: pd.DataFrame  # seq, op, ts_us, conv_id, turn_idx, role, text, tool, file_idx, txn_id
    n_rows: int           # rows in the parquet files (data events + commit markers)
    n_events: int         # data events (excludes commit markers)
    content_hash: str
    commit_file: dict     # contiguous feeds: txn_id -> index of the file holding its marker


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    lens = rng.integers(lo, hi, size=n)
    toks = VOCAB[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    starts = ends - lens
    return np.array([" ".join(toks[s:e]) for s, e in zip(starts, ends)], dtype=object)


def _events(spec: FeedSpec, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_conv = spec.n_events // 2 + 1  # ample: a conversation averages ~11 events
    n_turns = rng.integers(1, MAX_TURNS + 1, size=n_conv)
    src = np.full(n_conv, -1)  # the conversation each near-copy repeats
    if spec.near_copy_mod:
        c = np.arange(n_conv)
        is_copy = (c % spec.near_copy_mod == spec.near_copy_mod - 1) & (c >= NEAR_COPY_LAG)
        src[is_copy] = c[is_copy] - NEAR_COPY_LAG
        # a source is never a copy itself, so one pass resolves every copy
        assert not is_copy[src[is_copy]].any(), "NEAR_COPY_LAG is a multiple of near_copy_mod"
        n_turns[is_copy] = n_turns[src[is_copy]]
    conv = np.repeat(np.arange(n_conv), n_turns)
    turn = np.concatenate([np.arange(k) for k in n_turns])
    first_turn = np.cumsum(n_turns) - n_turns
    # per turn: the turn it copies (itself unless its conversation is a copy)
    src_turn = np.where(src[conv] >= 0, first_turn[np.maximum(src[conv], 0)] + turn, np.arange(len(conv)))
    edits = rng.integers(1, MAX_EDITS + 1, size=len(conv))
    if spec.hot_convs and spec.hot_extra:
        hot = conv < spec.hot_convs
        edits[hot] += rng.integers(0, spec.hot_extra, size=int(hot.sum()))
    role_t = ROLES[rng.integers(0, 4, size=len(conv))][src_turn]
    tool_t = rng.integers(0, 5, size=len(conv))[src_turn]
    # keep whole conversations up to n_events, so every seed yields the
    # same amount of work (to within one conversation)
    keep = conv < np.searchsorted(np.cumsum(np.bincount(conv, weights=edits)), spec.n_events, "right")
    idx = np.flatnonzero(keep)  # kept turns, in turn order; a copy's source precedes it
    new_idx = np.full(len(conv), -1)
    new_idx[idx] = np.arange(len(idx))
    src_turn = new_idx[src_turn[idx]]
    conv, turn, edits, role_t, tool_t = conv[idx], turn[idx], edits[idx], role_t[idx], tool_t[idx]
    key = np.repeat(np.arange(len(conv)), edits)
    j = np.concatenate([np.arange(m) for m in edits])
    ev = pd.DataFrame({"conv": conv[key], "turn": turn[key], "key": key, "j": j})
    n = len(ev)
    is_del = (j > 0) & (rng.integers(0, 100, size=n) < DELETE_PCT)
    ev["op"] = np.where(j == 0, "I", np.where(is_del, "D", "U"))
    role = role_t[key]
    ev["role"] = np.where(is_del, None, role)
    text = _texts(rng, n, *spec.words)
    # a copied turn's insert repeats its source's insert text, with the
    # first token changed
    ins = np.flatnonzero(j == 0)  # the insert row of each turn, in turn order
    copied = np.flatnonzero(src_turn != np.arange(len(conv)))
    text[ins[copied]] = ["near " + t.split(" ", 1)[1] for t in text[ins[src_turn[copied]]]]
    ev["text"] = np.where(is_del, None, text)
    tool_k = tool_t[key]
    ev["tool"] = np.where((~is_del) & (role == "tool"), np.char.add("tool_", tool_k.astype(str)), None)
    ev["conv_id"] = np.char.add("conv-", np.char.zfill(ev["conv"].to_numpy().astype(str), 8))

    if spec.order == "interleaved":
        vt = ev["j"].to_numpy() * (1 << 16) + rng.integers(0, 1 << 16, size=n)
        ev = ev.assign(_vt=vt).sort_values(["_vt", "key"], kind="stable").drop(columns="_vt")
        ev["txn_id"] = -1
    elif spec.order == "contiguous":
        ev = ev.sort_values(["conv", "j", "turn"], kind="stable")
        ev["txn_id"] = ev["conv"]
    else:
        raise ValueError(f"unknown order {spec.order!r}")
    ev = ev.reset_index(drop=True)
    return ev


def _with_markers(ev: pd.DataFrame, spec: FeedSpec) -> pd.DataFrame:
    """Append one commit marker after each conversation's last event
    (skipping the dangling ones); returns the log in write order."""
    last = ev.groupby("conv").tail(1)
    if spec.dangling_mod:
        last = last[last["conv"] % spec.dangling_mod != spec.dangling_mod - 1]
    marker = pd.DataFrame({
        "conv": last["conv"].to_numpy(), "turn": -1, "key": -1, "j": -1, "op": "C",
        "role": None, "text": None, "tool": None, "conv_id": None,
        "txn_id": last["txn_id"].to_numpy(),
    }, index=last.index + 0.5)
    return pd.concat([ev, marker]).sort_index(kind="stable").reset_index(drop=True)


def _payload(seq, op, ts, conv_id, turn, role, text, tool) -> str:
    if op == "C":
        return f'{{"type":"C","timestamp":"{ts}","seq":{seq}}}'
    parts = [f'"type":"{op}"', f'"timestamp":"{ts}"', f'"seq":{seq}',
             f'"conv_id":"{conv_id}"', f'"turn_idx":{turn}']
    for k, v in (("role", role), ("text", text), ("tool", tool)):
        if v is not None:
            parts.append(f'"{k}":"{v}"')
    return "{" + ",".join(parts) + "}"


def build_feed(spec: FeedSpec, seed: int, path: str) -> Feed:
    """Generate the feed for ``seed`` and write it under ``path``
    (replacing whatever was there)."""
    ev = _events(spec, seed)
    log = _with_markers(ev, spec) if spec.order == "contiguous" else ev
    log["seq"] = np.arange(1, len(log) + 1, dtype=np.int64)
    # event time advances one second per 16 events, plus sub-second jitter
    rng = np.random.default_rng(seed + 1)
    log["ts_us"] = (BASE_EPOCH + log["seq"].to_numpy() // 16) * 1_000_000 + rng.integers(
        0, 1_000_000, size=len(log)
    )
    pos = np.arange(len(log))
    log["file_idx"] = (pos * spec.n_files // len(log)).astype(np.int64)
    log["source_pos"] = pos - np.searchsorted(log["file_idx"].to_numpy(), log["file_idx"].to_numpy())
    ts = np.char.add(
        np.datetime_as_string(log["ts_us"].to_numpy().astype("datetime64[us]"), unit="us"), "Z"
    )
    payload = [
        _payload(*r)
        for r in zip(log["seq"], log["op"], ts, log["conv_id"],
                     log["turn"], log["role"], log["text"], log["tool"])
    ]
    log["payload_json"] = payload

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    h = hashlib.sha256()
    txn = spec.order == "contiguous"
    for f, part in log.groupby("file_idx", sort=True):
        cols = {
            "payload_json": pa.array(part["payload_json"].tolist(), pa.string()),
            "source_file": pa.array([f"binlog.{f:06d}"] * len(part), pa.string()),
            "source_pos": pa.array(part["source_pos"].to_numpy(), pa.int64()),
        }
        if txn:
            cols["txn_id"] = pa.array(part["txn_id"].to_numpy(), pa.int64())
        table = pa.table(cols)
        # zero-padded names: the file source admits files in name order
        pq.write_table(table, os.path.join(path, f"part-{f:06d}.parquet"))
        for s in part["payload_json"]:
            h.update(s.encode())
            h.update(b"\n")
        h.update(f"|{f}".encode())
    commit_file = {}
    if txn:
        m = log[log["op"] == "C"]
        commit_file = dict(zip(m["txn_id"].tolist(), m["file_idx"].tolist()))
    data = log[log["op"] != "C"].reset_index(drop=True)
    return Feed(
        path=path,
        events=data[["seq", "op", "ts_us", "conv_id", "turn", "role", "text", "tool",
                     "file_idx", "txn_id"]].rename(columns={"turn": "turn_idx"}),
        n_rows=len(log),
        n_events=len(data),
        content_hash=h.hexdigest()[:16],
        commit_file=commit_file,
    )


def applied_at(feed: Feed) -> np.ndarray:
    """The batch index (file index) at which each data event reaches the
    table: its own file, or — transaction-delimited — the file holding
    its transaction's commit marker (-1: never committed)."""
    if not feed.commit_file:
        return feed.events["file_idx"].to_numpy()
    cf = feed.events["txn_id"].map(feed.commit_file)
    return cf.fillna(-1).astype(np.int64).to_numpy()


def lww_fold(feed: Feed, upto_batch: int | None = None) -> pd.DataFrame:
    """Independent last-writer-wins fold: the live row of every key after
    applying every committed event up to ``upto_batch`` (default: all).
    Columns: conv_id, turn_idx, role, text, tool, ts_us; sorted by key."""
    at = applied_at(feed)
    ok = at >= 0 if upto_batch is None else (at >= 0) & (at <= upto_batch)
    ev = feed.events[ok]
    last = ev.sort_values("seq").groupby(["conv_id", "turn_idx"], sort=False).tail(1)
    live = last[last["op"] != "D"]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us"]
    return live[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(
        tuple(None if v is None or v != v else str(v) for v in r)
        for r in df.itertuples(index=False, name=None)
    )


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-free, value-exact equality of two frames with the same columns."""
    return list(a.columns) == list(b.columns) and len(a) == len(b) and _rows(a) == _rows(b)
