"""LakeTable — a minimal snapshot/commit-log table format with MERGE upsert.

The north star calls for Iceberg ``MERGE INTO`` with idempotent commit IDs.
No Iceberg runtime jar ships in this sandbox, so this module implements the
same contract from first principles as a bucket-partitioned copy-on-write
table over parquet — the Iceberg model re-expressed, not a toy:

- **Snapshots + commit log**: every commit writes immutable parquet data
  files plus a JSON manifest ``_commits/v{N}.json`` listing, per bucket, the
  live files at that version. Readers see the latest committed manifest
  only; writers never mutate files (copy-on-write ≙ Iceberg snapshots,
  reference nifi-docs nifi-in-depth.adoc:72-76 immutability rationale).
- **Delta manifests (manifest-list indirection)**: an incremental merge's
  manifest lists files for its TOUCHED buckets only plus a ``base`` pointer
  to the previous snapshot for the rest — manifest size is O(touched
  buckets) per commit, not O(table files), which is why Iceberg separates
  manifest lists from manifests. Resolution walks the base chain; the
  chain is bounded (``MAX_MANIFEST_DEPTH``): a commit that would exceed it
  flattens into a full manifest, so a cold read costs at most that many
  small JSON reads and a warm read (manifests are immutable → cached by
  version) costs one.
- **O(1) head discovery, once per operation**: ``_commits/_latest`` holds
  the newest version as a hint (≙ Delta's ``_last_checkpoint``). The one
  head reader (``_head``) reads the hint, reads the manifest it names
  (cached by version — manifests are immutable) and probes forward, so
  finding the head never lists the commit directory — at 10^4+ commits
  the list call is the classic metadata bottleneck. The hint is
  best-effort: missing, corrupt or naming a missing manifest falls back
  to a listing. Every write operation reads the head once at entry and
  takes every decision from that manifest: existence, the replay
  short-circuit, schema, base files, bucket count and stats columns.
- **Snapshot expiry**: :meth:`expire_snapshots` keeps the newest ``keep_n``
  snapshots plus the base-chain closure they need, deletes older manifests
  and the data files they named that no kept snapshot references (≙
  Iceberg ``expire_snapshots``). It reads only the commit log, so it never
  touches a write not yet committed and may run beside a live stream.
- **Atomic commit with optimistic rebase-retry**: the first attempt
  builds on the head the operation read at entry and stages the manifest
  for that version + 1 under a temp name, moved into place with Hadoop
  ``rename`` (fails when the destination exists — atomic on HDFS, see
  fsio.py for the store-by-store contract). Only a losing racer reads the
  head again, and REBASES: ``_commit`` re-validates the new head (replay,
  existence, bucket layout, the buckets the write read), then restamps
  through ``_stamp``, which every commit shares — Iceberg's
  re-validate-and-reapply on ``CommitFailedException`` (reference
  nifi-iceberg-processors PutIceberg.java:367-383). When a concurrent
  commit changed the layout or a bucket the write read, it raises
  :class:`CommitConflict` instead of silently dropping the other writer's
  rows — the caller re-runs against the new head. A write that does not
  commit deletes its data files (≙ PutIceberg.java:419-423).
- **Idempotent commit IDs**: each commit stamps ``summary.batch_id`` — the
  generalization of NiFi's ``nifi-flowfile-uuid`` snapshot-summary marker
  (PutIceberg.java:89-93, 392-399). A batch commit writes its own
  summary; every other commit (compaction, expiry, DDL, rebucket)
  carries the head's forward, so the marker and whatever the batch
  recorded beside it (the streaming engine's watermark) stay on the head.
  :meth:`LakeTable.last_batch_id` lets a restarted job skip
  already-applied batches; the check is re-evaluated against the head
  INSIDE the commit loop, so replay-vs-race is also safe.
- **Bucket partitioning + pruning**: rows are hash-bucketed on the first
  key column (``bucket(conv_id)`` per FIXTURES.md §1); a merge rewrites
  only the buckets its batch touches — at 10^10 rows and 1024 buckets a
  typical batch rewrites a small fraction of the table, which is exactly
  Iceberg COW with partition pruning.
- **MERGE semantics**: :meth:`merge_events` applies a change batch with the
  arms of PutDatabaseRecord's statement types (reference
  .../standard/PutDatabaseRecord.java:119-128 INSERT/UPDATE/UPSERT/DELETE)
  as one last-writer-wins fold over the touched buckets' rows plus the
  batch's: per key the highest ``_seq`` wins, so a newer source row
  updates (or tombstones when op='D'), a source row for an absent key
  inserts, and a stale one loses (the cross-batch guard
  ``source.seq > target._seq``). On equal ``_seq`` the table's row wins —
  the fold orders by ``(_seq, is_table_row)``, which is the ``s.seq >
  t._seq`` arm of :func:`iceberg_merge_sql`.
- **One fold, one shuffle**: every bucket rewrite — merge, a table's
  first commit, compaction and rebucket — goes through :meth:`_fold`:
  rows are hash-repartitioned once on ``_bucket``; because ``_bucket`` is
  a function of the key, the fold (``groupBy(_bucket, key)``) and the
  ``partitionBy(_pb)`` file write reuse that single exchange. Verified by
  plan assertion in tests/test_round2.py.
- **Merge-on-read mode**: :meth:`append_events` commits a change batch as
  flat whole-batch delta file(s) (manifest ``delta_files``) without ever
  reading the base — O(batch) per commit, one narrow Spark stage — and
  records the touched buckets in ``mor_buckets``; readers
  LWW-fold those buckets (bucket files + delta rows) so queryable state
  matches copy-on-write exactly (≙ Iceberg/Hudi MOR, Paimon LSM buckets).
  :meth:`compact_buckets` repays the read debt on a cadence, folding
  deltas into per-bucket zstd files via a delta manifest. This is the
  per-batch shape a thousand-micro-batch production stream needs; the
  COW :meth:`merge_events` remains for batch-sized merges.
- **Tombstones**: deletes persist as ``_deleted=true`` rows retaining
  ``_seq`` so a *stale* pre-delete update arriving in a later batch cannot
  resurrect the row, while a genuinely newer re-insert wins (risk register
  SURVEY.md §7.3). :meth:`read` filters tombstones; compaction may purge
  them once the watermark passes.
- **Additive schema evolution**: :meth:`merge_events` diffs incoming payload
  columns against the table schema and appends new nullable fields to the
  manifest schema (≙ UpdateDatabaseTable.java:506-541 ALTER TABLE ADD
  COLUMN); old files are read with the evolved schema (missing columns
  null-filled by the parquet reader).

On a real cluster with Iceberg jars, swap this class for
:class:`IcebergMergeSink` below — same interface, real catalog.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsio import FsIO, _local_path, join as pjoin

_COMMITS = "_commits"
_DATA = "data"
_LATEST = "_latest"
INTERNAL_COLS = ["_seq", "_deleted", "_bucket"]
# Delta-manifest chain bound: a commit whose chain would exceed this depth
# flattens to a full manifest, so cold file-map resolution is at most this
# many small JSON reads (warm = 0: manifests are immutable, cached by
# version).
MAX_MANIFEST_DEPTH = 16
# ``LakeTable._stamp``'s default ``batch_id``: the commit is not a batch
# commit, so it carries the head's summary forward.
_CARRY = object()


def _stat_norm(v):
    """JSON-storable, totally-ordered image of a stats value: timestamps
    and dates → epoch micros (UTC-naive doctrine — session TZ is pinned
    UTC); numbers and strings pass through; anything else → None
    (unsupported → no bound recorded → the file is never skipped)."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, bool):
        return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        import pandas as _pd

        return int(_pd.Timestamp(v).value // 1000)
    if isinstance(v, (int, float, str)):
        return v
    return None


def _stats_pass(file_stats: dict | None, norm_filter: dict) -> bool:
    """True when the file may contain rows matching every bound — i.e.
    [min,max] intersects [lo,hi] for each filtered column. Missing stats
    for a column → keep (can't prove absence). NULL rows never satisfy a
    range predicate, so null counts are irrelevant to this test."""
    if not file_stats:
        return True
    if file_stats.get("_nrows") == 0:
        return False  # zero-row file: nothing to match, always skippable
    for col, (lo, hi) in norm_filter.items():
        s = file_stats.get(col)
        if not s:
            continue
        mn, mx = s
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    return True


class CommitConflict(Exception):
    pass


_DDL_ADD_RE = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+\S+\s+ADD\s+COLUMNS?\s*(.+?)\s*;?\s*$"
)
_DDL_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(), "varchar": T.StringType(), "text": T.StringType(),
    "tinyint": T.ByteType(), "smallint": T.ShortType(),
    "int": T.IntegerType(), "integer": T.IntegerType(),
    "bigint": T.LongType(), "long": T.LongType(),
    "float": T.FloatType(), "real": T.FloatType(), "double": T.DoubleType(),
    "boolean": T.BooleanType(), "bool": T.BooleanType(),
    "timestamp": T.TimestampType(), "date": T.DateType(),
    "binary": T.BinaryType(), "blob": T.BinaryType(),
}


def parse_ddl_add_columns(sql: str) -> dict[str, T.DataType]:
    """Parse an ``ALTER TABLE t ADD COLUMN(S) name type[, ...]`` statement
    into a column→DataType map — the additive subset of the DDL statements
    the reference's binlog source forwards (CaptureChangeMySQL's DDL
    events, CaptureChangeMySQL.java:985-1008; classification
    :1123 isQueryDDL). Non-additive DDL (DROP/RENAME/TRUNCATE/MODIFY)
    raises ValueError — those are destructive operations a lake sink must
    not replay blindly; route them to an operator review path instead.
    """
    m = _DDL_ADD_RE.match(sql)
    if not m:
        raise ValueError(
            f"unsupported DDL (only ALTER TABLE ... ADD COLUMN[S] applies "
            f"automatically): {sql!r}"
        )
    body = m.group(1).strip()
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    out: dict[str, T.DataType] = {}
    # split on commas not inside parens (decimal(10,2))
    parts, depth, cur = [], 0, ""
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur)
    for p in parts:
        toks = p.strip().split(None, 1)
        if len(toks) != 2:
            raise ValueError(f"malformed column definition {p.strip()!r} in {sql!r}")
        name, typ = toks[0].strip("`\""), toks[1].strip().lower()
        dm = re.match(r"^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", typ)
        if dm:
            out[name] = T.DecimalType(int(dm.group(1)), int(dm.group(2)))
            continue
        base = re.match(r"^([a-z]+)", typ)
        dt = _DDL_TYPES.get(base.group(1) if base else "")
        if dt is None:
            raise ValueError(f"unsupported column type {typ!r} in DDL {sql!r}")
        out[name] = dt
    return out


class SchemaEvolutionError(ValueError):
    """An incoming column's type cannot legally evolve the table schema."""


# Iceberg-spec primitive widenings (spec §Schema Evolution: int→long,
# float→double, decimal precision growth at fixed scale). Spark 4's
# parquet reader performs these promotions natively on read, so old data
# files never need rewriting — verified in tests/test_laketable.py.
_INT_RANK = {T.ByteType(): 0, T.ShortType(): 1, T.IntegerType(): 2, T.LongType(): 3}
_FLOAT_RANK = {T.FloatType(): 0, T.DoubleType(): 1}


def _widen_type(old: T.DataType, new: T.DataType, col: str) -> T.DataType:
    """The evolved type for a column seen as ``old`` in the table and
    ``new`` in an incoming batch: the wider of the two along a legal
    Iceberg promotion chain. Raises :class:`SchemaEvolutionError` for
    type changes no promotion covers (string→int, double→long, ...).

    A narrower incoming type is fine with NO cast anywhere: data files
    keep their written type and the reader widens (the manifest schema is
    always the widest seen)."""
    if old == new:
        return old
    if old in _INT_RANK and new in _INT_RANK:
        return old if _INT_RANK[old] >= _INT_RANK[new] else new
    if old in _FLOAT_RANK and new in _FLOAT_RANK:
        return old if _FLOAT_RANK[old] >= _FLOAT_RANK[new] else new
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        if old.scale == new.scale:
            return old if old.precision >= new.precision else new
    raise SchemaEvolutionError(
        f"column {col!r}: cannot evolve {old.simpleString()} -> "
        f"{new.simpleString()} (legal: byte/short/int->long, float->double, "
        "decimal precision growth at fixed scale, or adding new columns)"
    )


def _evolve_schema(
    head_schema: T.StructType,
    payload_cols: list[str],
    src_types: dict[str, T.DataType],
    key_cols: list[str],
) -> T.StructType:
    """Table schema after an incoming batch: existing payload columns
    widened where the batch's type is legally wider, new payload columns
    appended nullable, internal columns kept last. Key columns must not
    change type (a key-type change is a new table, not evolution)."""
    for k in key_cols:
        f = next((f for f in head_schema.fields if f.name == k), None)
        if f is not None and k in src_types and src_types[k] != f.dataType:
            raise SchemaEvolutionError(
                f"key column {k!r} type changed "
                f"({f.dataType.simpleString()} -> {src_types[k].simpleString()})"
            )
    user, existing = [], set()
    for f in head_schema.fields:
        if f.name in INTERNAL_COLS:
            continue
        existing.add(f.name)
        if f.name in src_types and f.name not in key_cols:
            user.append(
                T.StructField(
                    f.name, _widen_type(f.dataType, src_types[f.name], f.name), True
                )
            )
        else:
            user.append(f)
    user += [
        T.StructField(c, src_types[c], True)
        for c in payload_cols
        if c not in existing
    ]
    return T.StructType(
        user + [f for f in head_schema.fields if f.name in INTERNAL_COLS]
    )


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        stats_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self._req_buckets = n_buckets
        self._req_stats_cols = list(stats_cols or [])
        self._nb: int | None = None
        self._io = FsIO(spark, self.path)
        # Immutable-by-version caches: manifest JSON and resolved file maps.
        self._mcache: dict[int, dict] = {}
        self._fcache: dict[int, dict[str, list[str]]] = {}
        self._scache: dict[int, dict[str, dict]] = {}

    @property
    def n_buckets(self) -> int:
        """Bucket count — the MANIFEST's once the table exists (the layout
        is a property of the data, not of whoever opens it: a caller
        re-opening a 64-bucket table with the default 16 would otherwise
        silently hash keys to different buckets and the merge join would
        duplicate keys across buckets). The constructor value only seeds
        the layout of a table this instance creates. Every head read
        refreshes it, so an operation buckets by the head it read."""
        if self._nb is None:
            self._head()
        return self._nb

    # ---------- commit log ----------

    def _commits_dir(self) -> str:
        return pjoin(self.path, _COMMITS)

    def _manifest_path(self, version: int) -> str:
        return pjoin(self._commits_dir(), f"v{version:08d}.json")

    def _versions(self) -> list[int]:
        """Full commit-dir listing — maintenance ops only; the hot path
        discovers the head via the ``_latest`` hint (see :meth:`_head`)."""
        return sorted(
            int(f[1:-5])
            for f in self._io.list_names(self._commits_dir())
            if f.startswith("v") and f.endswith(".json")
        )

    def _head(self) -> dict | None:
        """The head manifest (None for an empty table) — the one head
        discovery. Reads the ``_latest`` hint with no ``exists`` first,
        reads the manifest it names (cached by version) and probes forward,
        since the hint may lag a just-committed racer by a few versions.
        A missing or unreadable hint, or one naming a missing manifest,
        falls back to listing the commit directory."""
        try:
            v = int(self._io.read_text(pjoin(self._commits_dir(), _LATEST)))
            if v < 1:
                raise ValueError(v)
            self._manifest(v)  # raises when the hinted manifest is missing
        except Exception:
            vs = self._versions()
            v = vs[-1] if vs else 0
        while self._io.exists(self._manifest_path(v + 1)):
            v += 1
        m = self._manifest(v) if v else None
        self._nb = int(m.get("n_buckets", self._req_buckets)) if m else self._req_buckets
        return m

    def current_version(self) -> int:
        """Newest committed version (0 for an empty table)."""
        return (self._head() or {}).get("version", 0)

    def _manifest(self, version: int | None = None) -> dict | None:
        """The manifest at ``version``; the head's when it is None or 0."""
        if not version:
            return self._head()
        m = self._mcache.get(version)
        if m is None:
            m = json.loads(self._io.read_text(self._manifest_path(version)))
            self._mcache[version] = m
        return m

    def exists(self) -> bool:
        return self._head() is not None

    def last_batch_id(self) -> int | None:
        """Latest committed batch id — the idempotency/resume marker."""
        return self._batch_id_of(self._head())

    @staticmethod
    def _batch_id_of(manifest: dict | None) -> int | None:
        if manifest is None:
            return None
        b = manifest.get("summary", {}).get("batch_id")
        return int(b) if b is not None else None

    @classmethod
    def _is_replay(cls, manifest: dict | None, batch_id: int | None) -> bool:
        """The exactly-once check: ``batch_id`` is at or below the batch
        id ``manifest`` (the head) has already applied."""
        last = cls._batch_id_of(manifest)
        return batch_id is not None and last is not None and batch_id <= last

    def schema(self, version: int | None = None) -> T.StructType | None:
        m = self._manifest(version)
        return T.StructType.fromJson(json.loads(m["schema"])) if m else None

    def snapshot_summary(self, version: int | None = None) -> dict:
        m = self._manifest(version)
        return m.get("summary", {}) if m else {}

    def _commit(
        self,
        head: dict | None,
        build: Callable[[dict | None], dict | None],
        *,
        what: str = "commit",
        reads: Sequence[int] = (),
        batch_id: int | None = None,
        staged: str | None = None,
        max_retries: int = 10,
    ) -> int | None:
        """Optimistic commit loop with head rebase — the one place that
        decides whether a staged write may commit. ``head`` is the manifest
        the operation read at entry (None: empty table) and derived its
        ``staged`` tag directory from. Each attempt re-validates the head
        ``h`` it builds on: a replayed ``batch_id`` commits nothing; the
        table's existence, ``n_buckets`` and ``key_cols`` must be as at
        entry; the ``reads`` buckets must resolve to the same files and,
        if any, ``delta_files`` be unchanged — else :class:`CommitConflict`
        names ``what`` to re-run. ``build(h)`` then derives the manifest
        (None: nothing to do), stamped by atomic rename at ``h``'s version
        + 1; only a lost rename reads the head again. ≙ PutIceberg.java
        :367-383 (re-validate, re-apply) and :419-423 (abort uncommitted
        files): when nothing commits, ``staged`` is deleted; an error from
        the rename or after it keeps it, as the manifest may be in place.
        """
        if head is None:  # a table's first commit creates the log dir
            self._io.mkdirs(self._commits_dir())
        h, backoff, settled = head, 0.1, False
        try:
            for attempt in range(max_retries):
                if attempt:  # a racer won the last version — rebase onto it
                    time.sleep(backoff)
                    backoff = min(backoff * 2, 2.0)
                    h = self._head()
                if self._is_replay(h, batch_id):
                    return None
                why = None
                if (h is None) != (head is None):
                    why = "table already exists" if head is None else "table disappeared"
                elif h is not None and h["version"] != head["version"]:
                    now, then = (reads and self._resolve_files(m["version"]) for m in (h, head))
                    moved = [b for b in reads if now.get(str(b), []) != then.get(str(b), [])]
                    if any(h.get(k) != head.get(k) for k in ("n_buckets", "key_cols")):
                        why = "table layout changed"
                    elif moved:
                        why = f"concurrent commit rewrote bucket {moved[0]}"
                    elif reads and h.get("delta_files", []) != head.get("delta_files", []):
                        why = "concurrent append"
                if why:
                    raise CommitConflict(f"{why} during {what} — re-run {what}")
                manifest = build(h)
                if manifest is None:
                    return None
                version = (h or {}).get("version", 0) + 1
                manifest["version"] = manifest["snapshot_id"] = version
                text = json.dumps(manifest)
                tmp = pjoin(self._commits_dir(), f".tmp-{uuid.uuid4().hex}.json")
                self._io.write_text(tmp, text)
                settled = True  # from here the manifest may be in place
                if self._io.rename_no_overwrite(tmp, self._manifest_path(version)):
                    self._mcache[version] = json.loads(text)  # as a reader sees it
                    try:  # best-effort head hint — readers probe forward anyway
                        self._io.write_text(
                            pjoin(self._commits_dir(), _LATEST), str(version)
                        )
                    except Exception:
                        pass
                    return version
                settled = False
                self._io.delete(tmp)
            raise CommitConflict(f"could not commit after {max_retries} retries")
        finally:
            if staged and not settled:
                self._io.delete(self._tag_dir(staged))

    def _stamp(
        self,
        head: dict | None,
        files: dict[str, list[str]],
        *,
        summary: dict | Callable[[], dict] | None = None,
        batch_id=_CARRY,
        new_stats: dict[str, dict] | None = None,
        new_delta: list[str] = (),
        touched: list[int] = (),
        full: bool = False,
        flatten: bool = False,
        schema: str | None = None,
        n_buckets: int | None = None,
        key_cols: list[str] | None = None,
    ) -> dict:
        """The manifest every commit stamps on top of ``head`` (None for a
        table's first commit). ``files`` maps the buckets the commit
        rewrote to their new files; ``full`` says it is the whole map.

        - Chain: a delta manifest (``files`` plus a ``base`` pointer to
          the head) unless the commit is full or its chain would pass
          ``MAX_MANIFEST_DEPTH`` (or ``flatten`` asks), which writes a
          full manifest with the chain reset.
        - Merge-on-read bookkeeping: a rewritten bucket leaves
          ``mor_buckets``; ``new_delta`` files join ``delta_files`` and
          their ``touched`` buckets join ``mor_buckets``; the delta list
          empties once no bucket needs it. A full commit starts clean.
        - ``file_stats``: the new files' on a delta manifest (reads walk
          the chain), the whole live map's on a flattened one.
        - ``summary``: a batch commit (``batch_id`` given) writes
          ``summary`` plus ``batch_id``. Every other commit carries the
          head's summary forward with ``summary`` as its own marker, so
          the applied batch id and the engine watermark survive
          compaction, expiry, DDL and layout commits. A callable
          ``summary`` is evaluated here, after the caller's write.
        """
        if callable(summary):
            summary = summary()
        if batch_id is _CARRY:
            summary = {"batch_id": None, **(head or {}).get("summary", {}), **(summary or {})}
        else:
            summary = {**(summary or {}), "batch_id": batch_id}
        base, depth, flat, mor = None, 0, False, set()
        if head is not None and not full:
            mor = {int(b) for b in head.get("mor_buckets", [])} - {int(b) for b in files}
            depth = int(head.get("depth", 0)) + 1
            if flatten or depth > MAX_MANIFEST_DEPTH:
                files = {**self._resolve_files(head["version"]), **files}
                depth, flat = 0, True
            else:
                base = head["version"]
        delta_files = (list(head.get("delta_files", [])) if mor else []) + list(new_delta)
        mor |= {int(b) for b in touched}
        stats = dict(new_stats or {})
        if flat:  # no base to walk: carry every live file's stats
            live = {f for fl in files.values() for f in fl} | set(delta_files)
            stats = {
                p: s for p, s in self._resolve_stats(head["version"]).items() if p in live
            } | stats
        head = head or {}
        return {
            "schema": schema or head["schema"],
            "n_buckets": int(n_buckets or head.get("n_buckets", self._req_buckets)),
            "key_cols": list(key_cols or head["key_cols"]),
            "files": files,
            "base": base,
            "depth": depth,
            "mor_buckets": sorted(mor),
            "delta_files": delta_files,
            "stats_cols": self._stats_cols(head),
            "file_stats": stats,
            "summary": summary,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }

    # ---------- reads ----------

    def _resolve_files(self, version: int) -> dict[str, list[str]]:
        """Full bucket→files map at ``version``, following delta-manifest
        ``base`` pointers (bounded by MAX_MANIFEST_DEPTH; memoized —
        manifests are immutable)."""
        if version == 0:
            return {}
        cached = self._fcache.get(version)
        if cached is None:
            m = self._manifest(version)
            base = m.get("base")
            cached = dict(self._resolve_files(base)) if base else {}
            cached.update(m["files"])
            self._fcache[version] = cached
        return cached

    def _bucket_files(self, version: int | None = None) -> dict[str, list[str]]:
        return self._resolve_files(version or self.current_version())

    # ---------- file-level column stats (data skipping, ≙ Iceberg
    # manifest lower_bounds/upper_bounds; reference lands via PutIceberg
    # whose tables get this from Iceberg's own manifests) ----------

    def _stats_cols(self, head: dict | None) -> list[str]:
        """Columns whose per-file [min,max] a commit on ``head`` records in
        the manifest (``file_stats``). The manifest's list wins for an
        existing table (same doctrine as :attr:`n_buckets`); the
        constructor value seeds new tables — and upgrades an old table
        that never recorded stats (files written before the upgrade have
        no entries and are simply never skipped)."""
        return list((head or {}).get("stats_cols") or self._req_stats_cols)

    def _collect_stats(
        self, files: dict[str, list[str]] | list[str], head: dict | None
    ) -> dict[str, dict]:
        """Per-file {col: [min,max]} for the stats columns of ``head`` (the
        operation's) over just-written files. Local paths read parquet
        footers (pyarrow row-group statistics — no data IO); any
        remote/URI path falls back to ONE column-pruned Spark scan of the
        new files (exact, works on any Hadoop scheme). Footer string bounds may be truncated by the
        writer — the parquet spec keeps truncated bounds valid bounds,
        which is all skipping needs."""
        cols = self._stats_cols(head)
        if not cols:
            return {}
        paths = (
            [f for fl in files.values() for f in fl]
            if isinstance(files, dict)
            else list(files)
        )
        if not paths:
            return {}
        localized = [(p, _local_path(p)) for p in paths]
        if all(lp is not None for _, lp in localized):
            return self._footer_stats(localized, cols)
        return self._scan_stats(paths, cols)

    @staticmethod
    def _footer_stats(
        localized: list[tuple[str, str]], cols: list[str]
    ) -> dict[str, dict]:
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for path, lp in localized:
            try:
                md = pq.ParquetFile(lp).metadata
            except Exception:
                continue  # unreadable footer → no stats, never skipped
            if md.num_rows == 0:
                out[path] = {"_nrows": 0}  # empty part file: always skip
                continue
            idx = {
                md.schema.column(i).path: i for i in range(md.num_columns)
            }
            st: dict[str, list] = {}
            for c in cols:
                ci = idx.get(c)
                if ci is None:
                    continue
                mns, mxs = [], []
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(ci).statistics
                    if s is None or not s.has_min_max:
                        mns = []  # one statless row group voids the bound
                        break
                    mns.append(_stat_norm(s.min))
                    mxs.append(_stat_norm(s.max))
                if mns and None not in mns and None not in mxs:
                    st[c] = [min(mns), max(mxs)]
            if st:
                out[path] = st
        return out

    def _scan_stats(self, paths: list[str], cols: list[str]) -> dict[str, dict]:
        from urllib.parse import unquote

        df = self.spark.read.parquet(*paths)
        present = [c for c in cols if c in df.columns]
        if not present:
            return {}
        aggs = []
        for c in present:
            aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
        rows = df.groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect()
        # match scanner URIs back to manifest paths by the last two path
        # components — the version-tag dir is uuid-unique per commit
        key = lambda p: "/".join(unquote(p).split("/")[-2:])  # noqa: E731
        by_key = {key(p): p for p in paths}
        out: dict[str, dict] = {}
        for r in rows:
            p = by_key.get(key(r["_f"]))
            if p is None:
                continue
            st = {}
            for c in present:
                mn, mx = _stat_norm(r[f"_mn_{c}"]), _stat_norm(r[f"_mx_{c}"])
                if mn is not None and mx is not None:
                    st[c] = [mn, mx]
            if st:
                out[p] = st
        return out

    def _resolve_stats(self, version: int) -> dict[str, dict]:
        """path → stats at ``version``, following delta-manifest base
        pointers like :meth:`_resolve_files`. Entries for rewritten files
        may linger in the chain — harmless, lookups are by live path."""
        if not version:
            return {}
        cached = self._scache.get(version)
        if cached is None:
            m = self._manifest(version) or {}
            base = m.get("base")
            cached = dict(self._resolve_stats(base)) if base else {}
            cached.update(m.get("file_stats") or {})
            self._scache[version] = cached
        return cached

    @staticmethod
    def _norm_filter(stats_filter: dict) -> dict:
        out = {}
        for c, (lo, hi) in stats_filter.items():
            out[c] = (_stat_norm(lo), _stat_norm(hi))
        return out

    def skip_report(
        self, stats_filter: dict, version: int | None = None
    ) -> dict[str, int]:
        """How many files a ``stats_filter`` would skip at ``version`` —
        the observability hook for tuning stats_cols / compaction layout.
        Returns {"total": n, "kept": k, "skipped": n-k}."""
        version = version or self.current_version()
        m = self._manifest(version) or {}
        paths = [f for fl in self._bucket_files(version).values() for f in fl]
        paths += m.get("delta_files", [])
        nf = self._norm_filter(stats_filter)
        stats = self._resolve_stats(version)
        kept = sum(1 for p in paths if _stats_pass(stats.get(p), nf))
        return {"total": len(paths), "kept": kept, "skipped": len(paths) - kept}

    def read_raw(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        stats_filter: dict | None = None,
    ) -> DataFrame:
        """All rows incl. tombstones + internal cols, optionally bucket-pruned
        and/or pinned to an older snapshot version.

        Includes the snapshot's flat merge-on-read delta files (manifest
        ``delta_files``, written by :meth:`append_events`): whole-batch
        files whose rows mix buckets. Their rows are surfaced ONLY for
        buckets still in ``mor_buckets`` — once a bucket is compacted its
        delta rows are stale copies — via a ``_bucket`` filter the parquet
        reader can push down.

        ``stats_filter`` ({col: (lo, hi)}, either bound None for open)
        skips files whose recorded [min,max] cannot intersect the range —
        the Iceberg data-skipping contract: the CALLER still applies the
        exact (null-rejecting) predicate; skipping only narrows the scan.
        Do NOT fold (LWW) over a stats-pruned raw read: dropping a file
        that held a key's newest version would resurrect an older row —
        :meth:`read` therefore only stats-prunes clean buckets."""
        return self._read_files(buckets, version, stats_filter)

    def _read_files(
        self,
        buckets: list[int] | None,
        version: int | None,
        stats_filter: dict | None = None,
        rank: str | None = None,
    ) -> DataFrame:
        """:meth:`read_raw`'s body. ``rank`` names a column that orders
        rows by commit: 0 for bucket files, ``-1 - i`` for
        ``delta_files[i]`` — the ``tie`` of a :meth:`_fold` that keeps the
        row committed first on equal ``_seq``, as :meth:`merge_events`
        does."""
        version = version or self.current_version()
        schema = self.schema(version)
        if schema is None:
            return self.spark.createDataFrame([], T.StructType())
        m = self._manifest(version) or {}
        files: list[str] = []
        for b, fl in self._bucket_files(version).items():
            if buckets is None or int(b) in buckets:
                files.extend(fl)
        mor = {int(b) for b in m.get("mor_buckets", [])}
        want = mor if buckets is None else mor & {int(b) for b in buckets}
        delta = m.get("delta_files", []) if want else []
        if stats_filter:
            nf = self._norm_filter(stats_filter)
            stats = self._resolve_stats(version)
            files = [f for f in files if _stats_pass(stats.get(f), nf)]
            delta = [f for f in delta if _stats_pass(stats.get(f), nf)]
        parts: list[DataFrame] = []
        if files:
            # explicit schema => additive evolution for free (null-fill)
            df = self.spark.read.schema(schema).parquet(*files)
            parts.append(df.withColumn(rank, F.lit(0).cast("long")) if rank else df)
        if delta:
            df = self.spark.read.schema(schema).parquet(*delta)
            if rank:
                # a file's rank from its position in the manifest's list
                # (Spark's part-file names are unique per write job)
                names = F.array(*[F.lit(f.rsplit("/", 1)[-1]) for f in delta])
                df = df.withColumn(
                    rank, -F.array_position(names, F.col("_metadata.file_name"))
                )
            parts.append(df.filter(F.col("_bucket").isin(sorted(want))))
        if not parts:
            if rank:
                schema = T.StructType([*schema.fields, T.StructField(rank, T.LongType())])
            return self.spark.createDataFrame([], schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        stats_filter: dict | None = None,
    ) -> DataFrame:
        """Live rows, user columns only (the queryable table).

        ``stats_filter`` skips files whose recorded column ranges cannot
        match (see :meth:`read_raw`). Applied only to CLEAN buckets: a
        merge-on-read bucket must fold over every generation before any
        predicate, so its files all scan (the caller's exact filter still
        applies to the folded rows). The caller MUST re-apply the exact
        predicate — skipping narrows IO, it does not filter rows.

        ``version`` reads an older snapshot (time travel — every commit's
        manifest is immutable, ≙ Iceberg `VERSION AS OF`).

        ``buckets`` prunes the scan to those hash buckets (the keyed-read
        fast path: a caller that knows which keys it needs — e.g. the MV
        refresh's touched-keys recompute — derives their bucket ids and
        skips every other bucket's files entirely).

        Buckets with unfolded merge-on-read deltas (manifest
        ``mor_buckets``, written by :meth:`append_events`) are LWW-folded
        here by the write path's :meth:`_fold`; on equal ``_seq`` the row
        committed first wins (bucket files, then ``delta_files`` in list
        order), as in :meth:`merge_events` and compaction. Clean buckets
        stream through with no shuffle. The fold cost is O(rows in MOR
        buckets), bounded by the compaction cadence.
        """
        version = version or self.current_version()
        m = self._manifest(version)
        mor = sorted(int(b) for b in (m or {}).get("mor_buckets", []))
        if buckets is not None:
            want = {int(b) for b in buckets}
            mor = [b for b in mor if b in want]
        if mor:
            clean = [
                int(b) for b in self._bucket_files(version)
                if int(b) not in mor
                and (buckets is None or int(b) in {int(x) for x in buckets})
            ]
            df = self.read_raw(
                buckets=clean, version=version, stats_filter=stats_filter
            ).unionByName(
                self._fold(
                    self._read_files(mor, version, rank="_rank"),
                    m["key_cols"], tie="_rank",
                )
            )
        else:
            df = self.read_raw(
                buckets=buckets, version=version, stats_filter=stats_filter
            )
        if "_deleted" in df.columns:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df.drop(*[c for c in INTERNAL_COLS if c in df.columns])

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        mode: str = "auto",
    ) -> DataFrame:
        """Changelog between two committed snapshots — CDC-OUT (≙ Iceberg
        incremental changelog scan / Delta Change Data Feed; the emit half
        of CaptureChangeMySQL's contract, so a LakeTable can itself feed
        downstream incremental consumers).

        One row per key whose LIVE image differs between ``from_version``
        and ``to_version`` (default: current head), classified
        ``op ∈ {'I','U','D'}``. 'I'/'U' rows carry the after-image user
        columns; 'D' rows carry the before-image (what was removed —
        Debezium's delete envelope). ``change_seq`` is the event seq that
        won at ``to_version`` (for 'D', the tombstone's seq; falls back to
        the before-image seq if the tombstone was compaction-purged in the
        range). The output re-applies downstream via
        ``merge_events/append_events(..., seq_col='change_seq',
        op_col='op')`` — 'I'/'U' both upsert, 'D' deletes.

        Two physical paths, chosen automatically:

        - **delta fast path** (``mode='delta'``) — when every commit in
          the range was a merge-on-read append (bucket file lists
          identical, delta list grew): scan ONLY the new delta files plus
          the ``from`` snapshot's touched buckets — O(changes + touched
          buckets), never O(table). The shape that keeps a 10^10-row
          table's changelog consumers viable.
        - **snapshot diff** (``mode='diff'``) — general (COW merges,
          compaction, or rebucket in range): scan each snapshot once and
          compute before/after images in ONE keyed shuffle (max of an
          epoch-tagged struct), never a join of two separate folds.
        """
        if mode not in ("auto", "delta", "diff"):
            raise ValueError(
                f"changes mode must be 'auto', 'delta' or 'diff', got {mode!r}"
            )
        head = self.current_version()
        to_version = head if to_version is None else to_version
        if not 0 <= from_version <= to_version <= head:
            raise ValueError(
                f"changes range v{from_version}..v{to_version} outside 0..v{head}"
            )
        schema_to = self.schema(to_version)
        m_to = self._manifest(to_version)
        key_cols = m_to["key_cols"]
        user_cols = [
            f.name
            for f in schema_to.fields
            if f.name not in INTERNAL_COLS and f.name not in key_cols
        ]
        # key fields in key_cols order (not schema order) so the empty-range
        # frame's column order matches the non-empty path's select below
        fld = {f.name: f for f in schema_to.fields}
        out_schema = T.StructType(
            [T.StructField("op", T.StringType(), False)]
            + [fld[c] for c in key_cols]
            + [f for f in schema_to.fields if f.name in user_cols]
            + [T.StructField("change_seq", T.LongType(), True)]
        )
        if from_version == to_version:
            return self.spark.createDataFrame([], out_schema)

        delta_from = (
            (self._manifest(from_version) or {}).get("delta_files", [])
            if from_version
            else []
        )
        delta_to = m_to.get("delta_files", [])
        new_deltas = [f for f in delta_to if f not in set(delta_from)]
        fast_ok = (
            from_version > 0
            and set(delta_from) <= set(delta_to)
            and self._resolve_files(from_version) == self._resolve_files(to_version)
        )
        if mode == "delta" and not fast_ok:
            raise ValueError(
                "delta fast path unavailable: range includes a bucket "
                "rewrite (COW merge / compaction / rebucket)"
            )
        use_fast = fast_ok if mode == "auto" else (mode == "delta")

        if use_fast:
            if not new_deltas:
                return self.spark.createDataFrame([], out_schema)
            cur_rows = self.spark.read.schema(schema_to).parquet(*new_deltas)
            touched = sorted(
                r[0]
                for r in cur_rows.select("_bucket").distinct().collect()
            )  # bounded by n_buckets
            prev_rows = self.read_raw(buckets=touched, version=from_version)
            # the from-snapshot rows are PART of the to-state (appends
            # never rewrite buckets), so the after-image folds over both
            # epochs while the before-image folds over epoch 0 only
            cur_is = lambda: F.lit(True)  # noqa: E731
        else:
            prev_rows = (
                self.read_raw(version=from_version)
                if from_version
                else self.spark.createDataFrame([], schema_to)
            )
            cur_rows = self.read_raw(version=to_version)
            cur_is = lambda: F.col("_epoch") == 1  # noqa: E731

        rows = prev_rows.withColumn("_epoch", F.lit(0)).unionByName(
            cur_rows.withColumn("_epoch", F.lit(1)), allowMissingColumns=True
        )
        # max of struct(seq, payload) — null structs are ignored by max, so
        # each side's winner comes only from its epoch predicate; one keyed
        # shuffle computes both images together
        payload = F.struct(
            F.col("_seq").alias("s"),
            F.struct(
                *[F.col(c).alias(c) for c in user_cols],
                F.coalesce(F.col("_deleted"), F.lit(False)).alias("_deleted"),
            ).alias("p"),
        )
        img = rows.groupBy(*key_cols).agg(
            F.max(F.when(cur_is(), payload)).alias("c"),
            F.max(F.when(F.col("_epoch") == 0, payload)).alias("p"),
        )
        live_p = F.col("p").isNotNull() & ~F.col("p.p._deleted")
        live_c = F.col("c").isNotNull() & ~F.col("c.p._deleted")
        op = (
            F.when(~live_p & live_c, "I")
            .when(live_p & ~live_c, "D")
            .when(live_p & live_c & (F.col("c.s") != F.col("p.s")), "U")
        )
        image = F.when(F.col("op") == "D", F.col("p.p")).otherwise(F.col("c.p"))
        return (
            img.withColumn("op", op)
            .filter(F.col("op").isNotNull())
            .select(
                "op",
                *key_cols,
                *[image[c].alias(c) for c in user_cols],
                F.coalesce(F.col("c.s"), F.col("p.s"))
                .cast("long")
                .alias("change_seq"),
            )
        )

    def sync_from(self, src: "LakeTable", cursor: int = 0) -> int:
        """Changelog-as-source chaining: apply ``src``'s changelog
        ``(cursor, head]`` to THIS table and return the new cursor
        (src's head version) — ≙ chaining one NiFi flow's output
        connection into another flow's input (the downstream consumes
        the upstream's change stream, not its full state).

        Drive it as a version-cursor loop (poll ``src.current_version()``,
        call ``sync_from`` when it advances, persist the returned cursor
        with the consumer's checkpoint). Exactly-once: the merge uses
        src's head version as the idempotent batch id, so re-running with
        a stale cursor after a crash skips the already-applied span.
        Cost per step is the changelog read — O(changes) on an
        append-only span (delta fast path), one keyed shuffle otherwise —
        plus a normal merge; never O(src table) twice.

        The destination converges to src's LIVE image at every cursor
        step: changes() rows carry ``change_seq`` (the winning seq at the
        `to` version) and op 'I'/'U' upsert while 'D' deletes. Single
        feeder assumed (this table's batch ids are src versions).
        """
        head = src.current_version()
        if head <= cursor:
            return cursor
        ch = src.changes(cursor, head)
        key_cols = src._manifest(head)["key_cols"]
        self.merge_events(
            ch, key_cols, seq_col="change_seq", op_col="op", batch_id=head
        )
        return head

    # ---------- maintenance ----------

    def compact(
        self,
        purge_tombstones_below_seq: int | None = None,
        sort_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> int:
        """Rewrite every bucket into fewer files; optionally purge tombstones.

        ≙ Iceberg data-file compaction (rewrite_data_files) + the
        MergeContent small-file story (SURVEY.md §2.6). Tombstones older
        than ``purge_tombstones_below_seq`` can be physically dropped once
        the caller knows no stale event below that seq can still arrive
        (the watermark contract); newer tombstones are kept so late stale
        updates still lose. Commits a new snapshot; readers of old versions
        are unaffected (copy-on-write); the manifest is a full one (chain
        reset). If a commit between the snapshot this compaction read and
        its own commit rewrote a bucket or appended delta rows, the
        compaction ABORTS with :class:`CommitConflict` (its rewrite would
        drop that commit's rows) — compaction is cheap to re-run. Same
        body as :meth:`compact_buckets`, over every bucket.

        ``sort_by`` clusters each bucket's rows by the given columns
        before writing (≙ Iceberg's table sort order applied by
        rewrite_data_files): with ``max_records_per_file`` capping file
        size, a bucket splits into files with DISJOINT sort-column ranges,
        which is what makes ``stats_cols`` skipping bite inside a bucket —
        unsorted, every file of a bucket spans the whole value range and
        nothing can be skipped. One local sort per bucket partition; no
        extra shuffle.
        """
        return self._rewrite(
            None, purge_tombstones_below_seq, "compact",
            sort_by=sort_by, max_records_per_file=max_records_per_file,
        )

    def compact_buckets(
        self, buckets: list[int], purge_tombstones_below_seq: int | None = None
    ) -> int | None:
        """Fold the given buckets' delta generations back to one file each
        (partial compaction — the streaming pipeline's MOR-debt cadence,
        ≙ Paimon per-bucket compaction / Iceberg binpack with a filter).

        Rewrites ONLY ``buckets``; commits a delta manifest, so cost and
        manifest size are O(len(buckets)). Aborts with
        :class:`CommitConflict` if a concurrent commit touched one of them
        (appends included — their rows would be dropped by our rewrite);
        cheap to re-run. Returns None when the buckets are empty.
        """
        return self._rewrite(buckets, purge_tombstones_below_seq, "compact_buckets")

    def _rewrite(
        self,
        buckets: list[int] | None,
        purge_tombstones_below_seq: int | None,
        what: str,
        **write_opts,
    ) -> int | None:
        """The compaction body: fold ``buckets`` (None = the whole table,
        committed as a full manifest) to one generation of bucket files —
        which repays the merge-on-read debt — optionally purging old
        tombstones. Returns None when there is nothing to rewrite."""
        head = self._head()
        if head is None:
            return None
        whole = buckets is None
        buckets = (
            list(range(self.n_buckets)) if whole else sorted(int(b) for b in buckets)
        )
        base_files = self._resolve_files(head["version"])
        mor = {int(b) for b in head.get("mor_buckets", [])} & set(buckets)
        if not whole and not (head.get("delta_files") and mor) and not any(
            base_files.get(str(b)) for b in buckets
        ):
            return None
        df = self._fold(
            self._read_files(None if whole else buckets, head["version"], rank="_rank"),
            head["key_cols"], tie="_rank",
        )
        if purge_tombstones_below_seq is not None:
            df = df.filter(
                ~(
                    F.coalesce(F.col("_deleted"), F.lit(False))
                    & (F.col("_seq") < purge_tombstones_below_seq)
                )
            )
        tag = self._new_tag()
        new_files = self._write_partitioned(df, tag, **write_opts)
        files = {str(b): new_files.get(str(b), []) for b in buckets}
        new_stats = self._collect_stats(files, head)

        def build(h: dict) -> dict:
            return self._stamp(
                h, files, new_stats=new_stats, summary={"compaction": True},
                full=whole,
            )

        return self._commit(head, build, what=what, reads=buckets, staged=tag)

    def expire_snapshots(self, keep_n: int = 10) -> dict[str, int]:
        """Delete manifests and data files no recent snapshot needs
        (≙ Iceberg ``expire_snapshots`` — without it, metadata and
        replaced copy-on-write files accumulate forever).

        Keeps the newest ``keep_n`` snapshots PLUS the base-chain closure
        their delta manifests resolve through (every kept manifest stays
        fully readable for time travel). The commit log is the only input
        (one listing): a data file goes only when an expired manifest
        named it and no kept one resolves to it, so a write not yet
        committed is never touched and expiry may run beside a live writer
        (one expiry at a time). A writer that crashed before its commit
        leaves its files; like Iceberg, which leaves them to a separate,
        age-guarded ``remove_orphan_files``, this does not sweep them.
        """
        vs = self._versions()
        if len(vs) <= keep_n:
            return {"manifests_deleted": 0, "data_files_deleted": 0}
        kept = set(vs[-keep_n:])
        # Flatten the oldest kept manifest in place (content-equivalent:
        # same resolved file map, base pointer removed) so the keep-closure
        # does not chain back through every expired delta — and every file
        # on disk stays named by a manifest that exists.
        oldest = min(kept)
        om = self._manifest(oldest)
        if om.get("base"):
            om = {
                **self._stamp(om, {}, flatten=True),
                "version": oldest,
                "snapshot_id": oldest,
                "created_at": om.get("created_at"),
            }
            self._io.write_text(self._manifest_path(oldest), json.dumps(om))
            self._mcache[oldest] = om
        frontier = list(kept)
        while frontier:  # base-chain closure (bounded by MAX_MANIFEST_DEPTH)
            base = (self._manifest(frontier.pop()) or {}).get("base")
            if base and base not in kept:
                kept.add(base)
                frontier.append(base)
        live = {f for v in kept for fl in self._resolve_files(v).values() for f in fl}
        live |= {f for v in kept for f in self._manifest(v).get("delta_files", [])}
        expired = [v for v in vs if v not in kept]
        dead = {f for v in expired for fl in self._manifest(v)["files"].values() for f in fl}
        dead |= {f for v in expired for f in self._manifest(v).get("delta_files", [])}
        prefix = self._tag_dir("")

        def unit(p: str) -> str:  # p's write directory (p itself outside data/)
            tag = p[len(prefix):].split("/")[0]
            return self._tag_dir(tag) if p.startswith(prefix) else p

        # a dead file goes with its write directory when no live file is in it
        keep = {unit(p) for p in live}
        doomed = {p if unit(p) in keep else unit(p) for p in dead - live}
        for p in sorted(doomed):  # data before manifests: a re-run finds them again
            self._io.delete(p)
        for v in expired:
            self._io.delete(self._manifest_path(v))
            # a stale hint must not find it cached, and the caches
            # stay bounded by the kept snapshots
            for cache in (self._mcache, self._fcache, self._scache):
                cache.pop(v, None)
        return {"manifests_deleted": len(expired), "data_files_deleted": len(doomed)}

    # ---------- writes ----------

    @staticmethod
    def _new_tag() -> str:  # a fresh name for one write's data directory
        return f"v{uuid.uuid4().hex[:12]}"

    def _tag_dir(self, version_tag: str) -> str:
        return pjoin(self.path, _DATA, version_tag)

    def _bucket_col(self, key_col: str, n_buckets: int | None = None) -> F.Column:
        n = n_buckets or self.n_buckets
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n)).cast("int")

    def _fold(
        self,
        rows: DataFrame,
        key_cols: list[str],
        n_buckets: int | None = None,
        tie: str | None = None,
    ) -> DataFrame:
        """The last-writer-wins kernel, shared by every bucket rewrite
        (merge, a table's first commit, compaction, rebucket) and by the
        merge-on-read fold of :meth:`read`.
        ``rows`` carry the user columns plus ``_seq``, ``_deleted`` and
        ``_bucket``; they are hash-repartitioned once on ``_bucket`` and
        folded per key to the row with the highest ``_seq`` — the
        ``groupBy(_bucket, key)`` and the partitioned file write both reuse
        that one exchange. ``tie`` names a column that breaks ``_seq`` ties
        (the higher value wins); it is not in the result."""
        vals = [c for c in rows.columns if c not in (*key_cols, "_bucket", tie)]
        order = F.struct("_seq", tie) if tie else F.col("_seq")
        return (
            rows.repartition(n_buckets or self.n_buckets, F.col("_bucket"))
            .groupBy("_bucket", *key_cols)
            .agg(F.max_by(F.struct(*vals), order).alias("_w"))
            .select(*key_cols, "_w.*", "_bucket")
        )

    def _write_partitioned(
        self,
        df: DataFrame,
        version_tag: str,
        codec: str = "zstd",
        sort_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> dict[str, list[str]]:
        """Write df (already carrying + partitioned by ``_bucket``) into
        per-bucket dirs; return bucket→files. No exchange is added: the
        dynamic-partition writer only local-sorts each task by ``_pb``.

        ``codec``: zstd default — ~33% fewer bytes AND faster wall for
        LARGE writes on this host (measured 13.9s vs 19.1s at 8 cores;
        IO-bound → shrinking bytes converts the stage to CPU work that
        scales with cores; matches Iceberg's common production codec).
        Small merge-on-read delta appends pass snappy instead: per-file
        codec init dominates tiny files (measured ~1 s/batch of pure zstd
        setup across n_buckets files) and deltas are short-lived —
        compaction rewrites them zstd."""
        out_dir = self._tag_dir(version_tag)
        w = df.withColumn("_pb", F.col("_bucket"))
        if sort_by:
            # Sort keyed on _pb FIRST so the dynamic-partition writer's
            # required ordering ([_pb]) is a satisfied prefix — otherwise
            # it would inject its own (unstable) sort and destroy the
            # within-bucket order this exists to create.
            w = w.sortWithinPartitions("_pb", *sort_by)
        writer = w.write.partitionBy("_pb").option("compression", codec)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.mode("overwrite").parquet(out_dir)
        mapping: dict[str, list[str]] = {}
        for rel in self._io.list_names(out_dir, recursive=True):
            part, _, name = rel.partition("/")
            if part.startswith("_pb=") and name.endswith(".parquet"):
                mapping.setdefault(part.split("=", 1)[1], []).append(pjoin(out_dir, rel))
        return mapping

    def _write_flat(
        self, df: DataFrame, version_tag: str, codec: str = "snappy"
    ) -> list[str]:
        """Write whole-batch merge-on-read delta file(s) — no partitionBy,
        no shuffle, no per-bucket split: the cheapest possible append (one
        narrow stage, one file per input task). Rows for all buckets mix;
        readers restrict them to live MOR buckets via the ``_bucket``
        column (see :meth:`read_raw`). snappy, not zstd: per-file codec
        init dominates tiny delta files, and compaction rewrites them zstd."""
        out_dir = self._tag_dir(version_tag)
        df.write.option("compression", codec).mode("overwrite").parquet(out_dir)
        return [
            pjoin(out_dir, f)
            for f in self._io.list_names(out_dir)
            if f.endswith(".parquet")
        ]

    def rebucket(self, new_n_buckets: int) -> int:
        """Layout evolution: rewrite the table under a new bucket count —
        for when key cardinality outgrows the created layout (≙ Iceberg
        partition-spec evolution: changing the bucket(N, key) transform).
        At 100× growth a 16-bucket table serializes every merge onto 16
        tasks; this is the maintenance op that restores write parallelism.

        One :meth:`_fold` of every row under the new ``_bucket`` — a single
        shuffle (tombstones and their _seq survive — the LWW guard must
        keep working across the rewrite); merge-on-read delta generations
        are folded in, so the new layout starts with zero MOR debt.
        Commits a flattened manifest (depth 0, no base pointer). A
        concurrent commit that rewrote a bucket or appended rows raises
        CommitConflict; the caller re-runs.
        """
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        head = self._head()
        if head is None:
            raise CommitConflict("cannot rebucket an empty table")
        key_cols = list(head["key_cols"])
        rows = self._read_files(None, head["version"], rank="_rank").withColumn(
            "_bucket", self._bucket_col(key_cols[0], new_n_buckets)
        )
        tag = self._new_tag()
        files = self._write_partitioned(
            self._fold(rows, key_cols, new_n_buckets, tie="_rank"), tag
        )
        new_stats = self._collect_stats(files, head)
        old_n = self.n_buckets

        def build(h: dict) -> dict:
            return self._stamp(
                h, files, new_stats=new_stats, summary={"rebucketed_from": old_n},
                full=True, n_buckets=new_n_buckets,
            )

        version = self._commit(head, build, what="rebucket", reads=range(old_n), staged=tag)
        self._nb = int(new_n_buckets)  # refresh the adopted layout
        return version

    def create(
        self, df: DataFrame, key_cols: list[str], seq_col: str = "_seq", summary: dict | None = None
    ) -> int:
        """Initial snapshot from a full table image (no merge). Refuses
        with :class:`CommitConflict`, before writing any data, when the
        table already exists."""
        head = self._head()
        if head is not None:
            raise CommitConflict("table already exists; use merge_events()")
        if seq_col not in df.columns:
            df = df.withColumn(seq_col, F.lit(0).cast("long"))
        if "_deleted" not in df.columns:
            df = df.withColumn("_deleted", F.lit(False))
        df = df.withColumn("_bucket", self._bucket_col(key_cols[0]))
        tag = self._new_tag()
        files = self._write_partitioned(df.repartition(self.n_buckets, F.col("_bucket")), tag)
        schema_json = json.dumps(df.schema.jsonValue())
        new_stats = self._collect_stats(files, head)

        def build(h: dict | None) -> dict:
            return self._stamp(
                h, files, new_stats=new_stats, summary=summary,
                schema=schema_json, key_cols=key_cols,
            )

        return self._commit(head, build, what="create", staged=tag)

    def evolve(
        self,
        add_columns: dict[str, T.DataType],
        extra_summary: dict | None = None,
    ) -> int | None:
        """Explicit additive schema evolution: append ``add_columns`` as
        nullable columns in a METADATA-ONLY commit — no data file is read
        or rewritten; existing files null-fill through the explicit-schema
        reader (≙ Iceberg ALTER TABLE ADD COLUMN; reference
        UpdateDatabaseTable.java:506-541 ALTER TABLE ADD COLUMN semantics,
        and the binlog DDL events CaptureChangeMySQL forwards when
        INCLUDE_DDL_EVENTS is set, CaptureChangeMySQL.java:353-362).

        Columns that already exist are checked for type compatibility
        (same type or a legal widening — the widening itself still happens
        on the data path) and otherwise ignored, so replaying a DDL event
        is a no-op: returns None when nothing new is added. The commit is
        a zero-file delta manifest (O(1) regardless of table size); the
        head's summary (``batch_id``, the engine watermark) carries
        forward so replay short-circuits stay intact.
        """
        head = self._head()
        if head is None:
            raise CommitConflict("cannot evolve an empty table — create()/merge first")

        def build(h: dict) -> dict | None:
            schema = T.StructType.fromJson(json.loads(h["schema"]))
            existing = {f.name: f.dataType for f in schema.fields}
            new: dict[str, T.DataType] = {}
            for k, dt in add_columns.items():
                if k in existing:
                    _widen_type(existing[k], dt, k)  # raises if incompatible
                else:
                    new[k] = dt
            if not new:
                return None
            user = [f for f in schema.fields if f.name not in INTERNAL_COLS]
            evolved = T.StructType(
                user
                + [T.StructField(k, dt, True) for k, dt in new.items()]
                + [f for f in schema.fields if f.name in INTERNAL_COLS]
            )
            return self._stamp(
                h, {},
                summary={**(extra_summary or {}), "ddl_added": sorted(new)},
                schema=json.dumps(evolved.jsonValue()),
            )

        return self._commit(head, build, what="evolve")

    def merge(
        self,
        batch: DataFrame,
        key_cols: list[str],
        seq_col: str = "seq",
        op_col: str = "op",
        batch_id: int | None = None,
        extra_summary: dict | None = None,
    ) -> int | None:
        """MERGE a change batch (op ∈ I/U/D).

        Compatibility wrapper over :meth:`merge_events`. Equivalent SQL
        (the real-Iceberg path, IcebergMergeSink):

            MERGE INTO t USING b ON t.k = b.k
            WHEN MATCHED AND b.seq > t._seq AND b.op = 'D' THEN UPDATE SET _deleted=true, _seq=b.seq
            WHEN MATCHED AND b.seq > t._seq THEN UPDATE SET *
            WHEN NOT MATCHED AND b.op != 'D' THEN INSERT *

        Returns the new version, or None if ``batch_id`` was already
        committed (idempotent replay).
        """
        return self.merge_events(batch, key_cols, seq_col, op_col, batch_id, extra_summary)

    def merge_events(
        self,
        events: DataFrame,
        key_cols: list[str],
        seq_col: str = "seq",
        op_col: str = "op",
        batch_id: int | None = None,
        extra_summary: dict | None = None,
        touched: list[int] | None = None,
    ) -> int | None:
        """MERGE a raw change batch, copy-on-write: the touched buckets'
        rows and the batch's go through one :meth:`_fold` — a single
        shuffle on ``_bucket`` for fold and file write — so in-batch
        duplicates and the table's rows reconcile by the same
        last-writer-wins rule (on equal ``_seq`` the table's row wins).

        Key columns must be non-null (null keys belong in the DLQ — the
        pipeline routes them there before this call).

        ``touched``: the batch's distinct bucket ids, when the caller
        already knows them (the streaming pipeline derives them in the
        same aggregation that computes its batch metrics). Supplying it
        removes the merge's own probe action AND the batch cache it
        exists to amortize — one Spark job per incremental merge instead
        of two, the difference that matters at thousands of micro-batches.
        """
        if events is None:
            return None
        head = self._head()
        if self._is_replay(head, batch_id):
            return None  # already applied — exactly-once on replay
        rows = self._change_rows(events, key_cols, seq_col, op_col)
        if head is None:
            return self._commit_initial(rows, key_cols, batch_id, extra_summary)
        if touched is not None:
            return self._merge_incremental(
                head, rows, key_cols, batch_id, extra_summary, touched=sorted(touched)
            )
        # Probe path: the touched-bucket probe and the merge both read the
        # batch — cache it across the two actions.
        rows = rows.cache()
        try:
            return self._merge_incremental(head, rows, key_cols, batch_id, extra_summary)
        finally:
            rows.unpersist()

    def _change_rows(self, events, key_cols, seq_col, op_col) -> DataFrame:
        """A change batch as table rows: key and payload columns plus
        ``_seq``, ``_deleted`` (op='D') and ``_bucket``."""
        payload_cols = [c for c in events.columns if c not in (*key_cols, seq_col, op_col)]
        return events.select(
            *key_cols,
            *payload_cols,
            F.col(seq_col).cast("long").alias("_seq"),
            (F.col(op_col) == "D").alias("_deleted"),
            self._bucket_col(key_cols[0]).alias("_bucket"),
        )

    def append_events(
        self,
        events: DataFrame,
        key_cols: list[str],
        seq_col: str = "seq",
        op_col: str = "op",
        batch_id: int | None = None,
        extra_summary: dict | None = None,
        touched: list[int] | Callable[[], list[int]] | None = None,
    ) -> int | None:
        """Merge-on-read MERGE: APPEND the batch as flat whole-batch delta
        file(s) — never read or rewrite the base (≙ Iceberg/Hudi MOR,
        Paimon's LSM buckets; contrast :meth:`merge_events`, which is
        copy-on-write).

        Per-batch cost is O(batch) instead of O(table), and the write is a
        single NARROW Spark stage (no shuffle, no per-bucket split, no
        batch-local fold — measured the cheapest possible micro-batch
        shape). The batch goes in unfolded: the read-side LWW fold
        reconciles in-batch duplicates by seq exactly like cross-batch
        ones. Readers reconcile via :meth:`read`, which LWW-folds buckets
        listed in the manifest's ``mor_buckets`` over bucket files +
        ``delta_files`` (the write path's :meth:`_fold`), so the queryable
        state is identical to the COW path's. Read amplification is
        bounded by compaction (:meth:`compact_buckets` /
        :meth:`compact`), which folds the deltas into per-bucket zstd
        files — the streaming pipeline runs it on a cadence. A table's
        first commit is its base image (``read`` does not fold clean
        buckets), so that one is folded.

        ``touched`` may be a list of bucket ids, a zero-arg callable
        evaluated after the delta write (the pipeline's observe() hook),
        or None (a tiny distinct probe over the written delta).
        ``extra_summary`` may likewise be a callable, evaluated after the
        write, so the commit can carry numbers observed on it.

        Appends conflict only with a layout change (a concurrent
        :meth:`rebucket` — the delta rows carry the old bucket ids): any
        other rebase just re-targets the new head's delta list
        (LWW-by-_seq makes concurrent appends and even a concurrent COW
        rewrite of the same bucket commute). Exactly-once replay via
        ``batch_id`` is identical to merge_events.
        """
        if events is None:
            return None
        head = self._head()
        if self._is_replay(head, batch_id):
            return None  # already applied — exactly-once on replay
        delta = self._change_rows(events, key_cols, seq_col, op_col)
        if head is None:
            return self._commit_initial(delta, key_cols, batch_id, extra_summary)
        # scan → flat files, one narrow stage: delta volume is O(events),
        # not O(keys); the compaction cadence repays it
        payload_cols = [c for c in delta.columns if c not in (*key_cols, *INTERNAL_COLS)]
        src_types = {f.name: f.dataType for f in delta.schema.fields}
        tag = self._new_tag()
        new_paths = self._write_flat(delta, tag)
        new_stats = self._collect_stats(new_paths, head)
        if callable(touched):
            # the streaming pipeline derives the touched set from an
            # observe() on the write job above — evaluated here, after
            # that job ran, so it costs nothing extra
            touched = touched()
        if touched is None and new_paths:
            # tiny probe over the just-written delta (bounded by batch
            # size; direct-API callers only — the pipeline passes touched)
            touched = [
                r["_bucket"]
                for r in self.spark.read.parquet(*new_paths)
                .select("_bucket").distinct().collect()
            ]
        touched = sorted(int(b) for b in touched or ())

        def build(h: dict) -> dict | None:
            if not new_paths or not touched:
                return None  # nothing survived the filter, or zero-row files
            # schema evolution (additive + Iceberg type widening), derived
            # from the head built on so a rebase picks up a racer's
            # evolution too (driver-only work)
            evolved = _evolve_schema(
                T.StructType.fromJson(json.loads(h["schema"])),
                payload_cols,
                src_types,
                key_cols,
            )
            # the new delta file(s) join the manifest's flat delta list —
            # bucket file lists are untouched (that's the whole point);
            # the list is stored in full (bounded by the compaction
            # cadence, which clears it)
            return self._stamp(
                h, {}, summary=extra_summary, batch_id=batch_id,
                new_stats=new_stats, new_delta=new_paths, touched=touched,
                schema=json.dumps(evolved.jsonValue()), key_cols=key_cols,
            )

        return self._commit(head, build, what="append", batch_id=batch_id, staged=tag)

    def _commit_initial(self, rows, key_cols, batch_id, extra_summary) -> int | None:
        """A batch that finds no head at entry becomes the table's base
        image, folded alone. If another writer creates the table first,
        the rename loses and the commit refuses (unless that writer applied
        this batch): these files ignore its rows."""
        folded = self._fold(rows, key_cols)
        schema_json = json.dumps(folded.schema.jsonValue())
        tag = self._new_tag()
        files = self._write_partitioned(folded, tag)
        if not files:  # empty first batch — don't commit an empty table
            self._io.delete(self._tag_dir(tag))
            return None
        new_stats = self._collect_stats(files, None)

        def build(h: dict | None) -> dict:
            return self._stamp(
                h, files, summary=extra_summary, batch_id=batch_id,
                new_stats=new_stats, schema=schema_json, key_cols=key_cols,
            )

        return self._commit(None, build, what="merge", batch_id=batch_id, staged=tag)

    def _merge_incremental(
        self, head, rows, key_cols, batch_id, extra_summary, touched: list[int] | None = None
    ) -> int | None:
        """The copy-on-write merge body: rewrite the touched buckets as one
        :meth:`_fold` of their rows at ``head`` (base files plus any
        merge-on-read delta rows) and the batch ``rows``, both cast to the
        evolved schema. The table's rows carry the higher tie rank, so on
        equal ``_seq`` the table's row wins."""
        # schema evolution: append new payload columns (nullable), widen
        # existing ones along Iceberg promotion chains
        table_schema = T.StructType.fromJson(json.loads(head["schema"]))
        our_user_types = {
            f.name: f.dataType for f in rows.schema.fields if f.name not in INTERNAL_COLS
        }
        val_cols = [c for c in our_user_types if c not in key_cols]
        evolved = _evolve_schema(table_schema, val_cols, our_user_types, key_cols)
        # bucket pruning: rewrite only touched buckets
        if touched is None:
            touched = sorted(r[0] for r in rows.select("_bucket").distinct().collect())

        def conform(df: DataFrame, is_table_row: bool) -> DataFrame:
            have = set(df.columns)
            return df.select(
                *[
                    (F.col(f.name) if f.name in have else F.lit(None))
                    .cast(f.dataType).alias(f.name)
                    for f in evolved.fields
                ],
                F.lit(is_table_row).alias("_tbl"),
            )

        target = self.read_raw(buckets=touched, version=head["version"])
        merged = self._fold(
            conform(target, True).unionByName(conform(rows, False)), key_cols, tie="_tbl"
        )
        tag = self._new_tag()
        new_files = self._write_partitioned(merged, tag)
        new_stats = self._collect_stats(new_files, head)

        def build(h: dict) -> dict:
            # re-derive the schema against the head built on, so a rebase
            # keeps a racer's evolution (their added/widened columns and
            # ours both survive; the widening reader reconciles files)
            schema_json = json.dumps(
                _evolve_schema(
                    T.StructType.fromJson(json.loads(h["schema"])),
                    val_cols,
                    our_user_types,
                    key_cols,
                ).jsonValue()
            )
            # a COW rewrite folds its touched buckets back to one generation
            return self._stamp(
                h, {str(b): new_files.get(str(b), []) for b in touched},
                summary=extra_summary, batch_id=batch_id, new_stats=new_stats,
                schema=schema_json, key_cols=key_cols,
            )

        # a rebase is safe iff no concurrent commit touched the buckets we
        # rewrote (our rewrite folded the entry head's data)
        return self._commit(
            head, build, what="merge", reads=touched, batch_id=batch_id, staged=tag
        )


class IcebergMergeSink:
    """Real-Iceberg MERGE path for clusters with the Iceberg runtime jar.

    Same contract as :class:`LakeTable.merge`, expressed as Spark SQL
    ``MERGE INTO`` against a catalog table; idempotency via a snapshot
    summary property (``commit.properties`` write option), mirroring
    PutIceberg's flowfile-uuid marker (reference PutIceberg.java:89-93).
    Untestable in this sandbox (no Iceberg jar) — import-gated.
    """

    def __init__(self, spark: SparkSession, table: str):
        if "org.apache.iceberg" not in spark.conf.get("spark.sql.extensions", ""):
            raise RuntimeError(
                "Iceberg extensions not configured; use LakeTable locally or add "
                "spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
            )
        self.spark = spark
        self.table = table

    def last_batch_id(self) -> int | None:
        row = self.spark.sql(
            f"SELECT summary['batch_id'] AS b FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(row[0].b) if row and row[0].b is not None else None

    def merge(self, batch: DataFrame, key_cols, seq_col="seq", op_col="op", batch_id=None, extra_summary=None, auto_evolve=False):
        if batch_id is not None:
            last = self.last_batch_id()
            if last is not None and batch_id <= last:
                return None
        if auto_evolve:
            self.evolve(batch.schema, key_cols)
        batch.createOrReplaceTempView("_merge_src")
        self.spark.sql(
            iceberg_merge_sql(
                self.table, batch.columns, key_cols, seq_col, op_col
            )
        )
        return True

    def evolve(self, batch_schema, key_cols=()) -> list[str]:
        """Issue the ALTER TABLE statements that bring the catalog table's
        schema up to the incoming batch's (additive columns + legal
        Iceberg type widenings — ≙ UpdateDatabaseTable.java:506-541).
        Returns the statements executed (empty = schemas already agree)."""
        current = {f.name: f.dataType for f in self.spark.table(self.table).schema.fields}
        incoming = {f.name: f.dataType for f in batch_schema.fields}
        stmts = iceberg_evolve_sql(self.table, current, incoming, key_cols)
        for s in stmts:
            self.spark.sql(s)
        return stmts


def iceberg_evolve_sql(
    table: str,
    current_types: dict[str, T.DataType],
    incoming_types: dict[str, T.DataType],
    key_cols=(),
) -> list[str]:
    """The schema-evolution DDL :class:`IcebergMergeSink` issues on a real
    catalog before a MERGE whose source carries new/wider columns: one
    ``ALTER TABLE ... ADD COLUMN`` per new column, one ``ALTER COLUMN ...
    TYPE`` per legal Iceberg widening (int→long, float→double, decimal
    precision growth — the same :func:`_widen_type` chain LakeTable
    enforces; ≙ UpdateDatabaseTable.java:506-541's schema-diff → ALTER
    statements). Key-column type changes raise (a key-type change is a
    new table, not evolution). Factored out like :func:`iceberg_merge_sql`
    so the statement text is unit-testable without the Iceberg jar.
    """
    stmts: list[str] = []
    for name, dt in incoming_types.items():
        if name in current_types:
            cur = current_types[name]
            if name in key_cols:
                if dt != cur:
                    raise SchemaEvolutionError(
                        f"key column {name!r} type changed "
                        f"({cur.simpleString()} -> {dt.simpleString()})"
                    )
                continue
            wide = _widen_type(cur, dt, name)  # raises if incompatible
            if wide != cur:
                stmts.append(
                    f"ALTER TABLE {table} ALTER COLUMN {name} "
                    f"TYPE {wide.simpleString()}"
                )
        else:
            stmts.append(
                f"ALTER TABLE {table} ADD COLUMN {name} {dt.simpleString()}"
            )
    return stmts


def iceberg_merge_sql(
    table: str,
    batch_columns: list[str],
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    src_view: str = "_merge_src",
) -> str:
    """The MERGE INTO statement :class:`IcebergMergeSink` executes —
    LWW-guarded upsert/delete arms in PutIceberg's contract order
    (delete-wins before update; inserts skip op='D'). Factored out so the
    statement text is unit-testable in sandboxes without the Iceberg jar
    (the only way this SQL was ever exercised before round 4)."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    payload = [c for c in batch_columns if c not in (*key_cols, seq_col, op_col)]
    set_cols = ", ".join(f"t.{c} = s.{c}" for c in payload)
    ins_cols = ", ".join([*key_cols, *payload, "_seq", "_deleted"])
    ins_vals = ", ".join(
        [f"s.{c}" for c in (*key_cols, *payload)]
        + [f"s.{seq_col}", f"s.{op_col} = 'D'"]
    )
    return f"""
            MERGE INTO {table} t USING {src_view} s ON {on}
            WHEN MATCHED AND s.{seq_col} > t._seq AND s.{op_col} = 'D'
              THEN UPDATE SET t._deleted = true, t._seq = s.{seq_col}
            WHEN MATCHED AND s.{seq_col} > t._seq
              THEN UPDATE SET {set_cols}, t._seq = s.{seq_col}, t._deleted = false
            WHEN NOT MATCHED AND s.{op_col} != 'D'
              THEN INSERT ({ins_cols}) VALUES ({ins_vals})
            """


def _cli(argv: list[str] | None = None) -> None:
    """Maintenance entry point (≙ Iceberg's rewrite_data_files /
    expire_snapshots procedures, run from one maintenance process), safe
    beside a live stream: expiry deletes only files expired manifests
    named (a crashed writer's uncommitted files are kept, no orphan sweep):

        python -m nifi_spark.sinks.laketable compact --table <path> [--purge-below-seq N]
        python -m nifi_spark.sinks.laketable compact-mor --table <path>
        python -m nifi_spark.sinks.laketable expire --table <path> [--keep 10]
        python -m nifi_spark.sinks.laketable rebucket --table <path> --new-buckets 256
    """
    import argparse

    p = argparse.ArgumentParser(description="LakeTable maintenance")
    p.add_argument("action", choices=["compact", "compact-mor", "expire", "rebucket"])
    p.add_argument("--table", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--keep", type=int, default=10)
    p.add_argument("--purge-below-seq", type=int, default=None)
    p.add_argument("--new-buckets", type=int, default=None)
    args = p.parse_args(argv)

    from ..session import get_spark

    t = LakeTable(get_spark("laketable_maintenance"), args.table, n_buckets=args.n_buckets)
    if args.action == "compact":
        v = t.compact(purge_tombstones_below_seq=args.purge_below_seq)
        print(json.dumps({"action": "compact", "version": v}))
    elif args.action == "compact-mor":
        mor = [int(b) for b in (t._manifest() or {}).get("mor_buckets", [])]
        v = t.compact_buckets(mor, purge_tombstones_below_seq=args.purge_below_seq) if mor else None
        print(json.dumps({"action": "compact-mor", "buckets": mor, "version": v}))
    elif args.action == "rebucket":
        if args.new_buckets is None:
            p.error("rebucket requires --new-buckets")
        v = t.rebucket(args.new_buckets)
        print(json.dumps({"action": "rebucket", "n_buckets": args.new_buckets, "version": v}))
    else:
        out = t.expire_snapshots(keep_n=args.keep)
        print(json.dumps({"action": "expire", **out}))


if __name__ == "__main__":
    _cli()
