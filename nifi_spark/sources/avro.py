"""Avro Object Container File reader/writer — JVM path when available,
pure-Python (Arrow-batched) fallback otherwise.

Reference parity: the reference reads and writes Avro through its record
abstraction (nifi-record-serialization-services .../avro/AvroReader.java
and AvroRecordSetWriter.java — schema from the container header or an
explicit property, datum-level access via record paths). Spark's
first-class mapping is the ``spark-avro`` module (``format("avro")``);
this sandbox ships no avro jar, so:

- :func:`read_avro` / :func:`write_avro` probe for the JVM
  ``AvroFileFormat`` class once and use ``format("avro")`` when present
  (the production fast path — vectorized, block-splittable);
- otherwise they fall back to a from-scratch implementation of the
  PUBLIC Avro 1.11 spec (container format + binary encoding): the
  reader lists ``*.avro`` files via ``binaryFile`` and decodes each
  file's blocks inside ``mapInPandas`` (one Arrow batch per container
  block — per-FILE parallelism across executors, the same granularity
  a non-splittable codec gives the JVM reader); the writer encodes one
  container file per input partition inside ``mapInPandas`` and commits
  a ``_SUCCESS`` + ``_schema.avsc`` sidecar from the driver.

Scale shape: decode work distributes per file and never touches the
driver (the driver reads only the first file's HEADER for schema
discovery, or the sidecar). The Python fallback trades per-row decode
speed for zero deployment deps — at 100 TB you ship the one avro jar
and the same call sites take the JVM path; the fallback keeps local
clusters and tests honest rather than stubbing the format out.

Supported schema surface (both directions): null, boolean, int, long,
float, double, bytes, string, fixed, enum, record, array, map,
2-branch ``[null, X]`` unions, and the date / timestamp-millis /
timestamp-micros logical types. General multi-branch unions and
decimal are rejected with explicit errors.
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import os
import struct
import zlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
_EPOCH_ORD = _dt.date(1970, 1, 1).toordinal()
_EPOCH_DT = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _to_utc_naive(v: _dt.datetime) -> _dt.datetime:
    """Normalize a datetime to naive-UTC before epoch arithmetic. The
    Avro spec defines timestamp-micros as UTC epoch micros; Arrow hands
    Spark TimestampType values over timezone-AWARE, so converting through
    UTC here keeps the wire bytes correct under ANY session timezone
    (a naive input is trusted to already be UTC — the NTZ/local case)."""
    if v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v

# ---------------------------------------------------------------------------
# binary primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


class _Cur:
    """Byte cursor over one container block."""

    __slots__ = ("b", "i")

    def __init__(self, b: bytes, i: int = 0):
        self.b = b
        self.i = i


def _read_long(c: _Cur) -> int:
    b, i = c.b, c.i
    acc = 0
    shift = 0
    while True:
        byte = b[i]
        i += 1
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    c.i = i
    return (acc >> 1) ^ -(acc & 1)


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _read_bytes(c: _Cur) -> bytes:
    n = _read_long(c)
    v = c.b[c.i : c.i + n]
    c.i += n
    return v


def _write_bytes(out: bytearray, v: bytes) -> None:
    _write_long(out, len(v))
    out += v


# ---------------------------------------------------------------------------
# schema: parse, convert to/from Spark types, compile codecs
# ---------------------------------------------------------------------------


def _union_branch(node):
    """[null, X] / [X, null] → (X, null_index); reject general unions."""
    branches = [b for b in node if b != "null"]
    if len(node) > 2 or len(branches) != 1:
        raise ValueError(
            f"avro: only 2-branch [null, X] unions are supported, got {node}"
        )
    return branches[0], node.index("null")


def avro_to_spark_type(node) -> tuple[T.DataType, bool]:
    """Avro schema node (parsed JSON) → (Spark type, nullable)."""
    if isinstance(node, list):
        inner, _ = _union_branch(node)
        dt, _n = avro_to_spark_type(inner)
        return dt, True
    if isinstance(node, str):
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if node in prim:
            return prim[node], False
        if node == "null":
            raise ValueError("avro: bare 'null' type outside a union")
        raise ValueError(f"avro: unsupported type {node!r}")
    t = node["type"]
    logical = node.get("logicalType")
    if logical == "decimal":
        raise ValueError("avro: decimal logical type is not supported")
    if t == "int" and logical == "date":
        return T.DateType(), False
    if t == "long" and logical in ("timestamp-micros", "timestamp-millis"):
        return T.TimestampType(), False
    if t == "long" and logical in (
        "local-timestamp-micros", "local-timestamp-millis",
    ):
        return T.TimestampNTZType(), False
    if isinstance(t, (str,)) and t in (
        "boolean", "int", "long", "float", "double", "bytes", "string",
    ):
        return avro_to_spark_type(t)
    if t == "record":
        fields = [
            T.StructField(f["name"], *avro_to_spark_type(f["type"]))
            for f in node["fields"]
        ]
        return T.StructType(fields), False
    if t == "enum":
        return T.StringType(), False
    if t == "fixed":
        return T.BinaryType(), False
    if t == "array":
        dt, nullable = avro_to_spark_type(node["items"])
        return T.ArrayType(dt, containsNull=nullable), False
    if t == "map":
        dt, nullable = avro_to_spark_type(node["values"])
        return T.MapType(T.StringType(), dt, valueContainsNull=nullable), False
    if isinstance(t, (list, dict)):
        return avro_to_spark_type(t)
    raise ValueError(f"avro: unsupported type {node!r}")


def spark_to_avro_schema(schema: T.StructType, name: str = "topLevelRecord"):
    """Spark StructType → Avro record schema (parsed-JSON form)."""
    counter = [0]

    def conv(dt: T.DataType, nullable: bool, field_name: str):
        if isinstance(dt, T.BooleanType):
            node = "boolean"
        elif isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            node = "int"
        elif isinstance(dt, T.LongType):
            node = "long"
        elif isinstance(dt, T.FloatType):
            node = "float"
        elif isinstance(dt, T.DoubleType):
            node = "double"
        elif isinstance(dt, T.StringType):
            node = "string"
        elif isinstance(dt, T.BinaryType):
            node = "bytes"
        elif isinstance(dt, T.DateType):
            node = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, T.TimestampType):
            node = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.TimestampNTZType):
            node = {"type": "long", "logicalType": "local-timestamp-micros"}
        elif isinstance(dt, T.ArrayType):
            node = {
                "type": "array",
                "items": conv(dt.elementType, dt.containsNull, field_name),
            }
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise ValueError("avro: map keys must be strings")
            node = {
                "type": "map",
                "values": conv(dt.valueType, dt.valueContainsNull, field_name),
            }
        elif isinstance(dt, T.StructType):
            counter[0] += 1
            node = {
                "type": "record",
                "name": f"{field_name}_r{counter[0]}",
                "fields": [
                    {
                        "name": f.name,
                        "type": conv(f.dataType, f.nullable, f.name),
                    }
                    for f in dt.fields
                ],
            }
        else:
            raise ValueError(f"avro: unsupported Spark type {dt.simpleString()}")
        return ["null", node] if nullable else node

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": conv(f.dataType, f.nullable, f.name)}
            for f in schema.fields
        ],
    }


def _compile_decoder(node):
    """Avro schema node → fn(cursor) -> python value."""
    if isinstance(node, list):
        inner, null_idx = _union_branch(node)
        dec = _compile_decoder(inner)

        def d_union(c, _dec=dec, _ni=null_idx):
            return None if _read_long(c) == _ni else _dec(c)

        return d_union
    if isinstance(node, dict):
        t = node["type"]
        logical = node.get("logicalType")
        if t == "int" and logical == "date":
            return lambda c: _dt.date.fromordinal(_EPOCH_ORD + _read_long(c))
        # instant types decode timezone-AWARE (UTC) so Spark stores the
        # correct instant whatever the session timezone; local-* decode
        # naive, matching TimestampNTZType semantics
        if t == "long" and logical == "timestamp-micros":
            return lambda c: _EPOCH_UTC + _dt.timedelta(microseconds=_read_long(c))
        if t == "long" and logical == "timestamp-millis":
            return lambda c: _EPOCH_UTC + _dt.timedelta(milliseconds=_read_long(c))
        if t == "long" and logical == "local-timestamp-micros":
            return lambda c: _EPOCH_DT + _dt.timedelta(microseconds=_read_long(c))
        if t == "long" and logical == "local-timestamp-millis":
            return lambda c: _EPOCH_DT + _dt.timedelta(milliseconds=_read_long(c))
        if t == "record":
            fdecs = [
                (f["name"], _compile_decoder(f["type"])) for f in node["fields"]
            ]

            def d_record(c, _f=fdecs):
                return {name: dec(c) for name, dec in _f}

            return d_record
        if t == "enum":
            symbols = node["symbols"]
            return lambda c, _s=symbols: _s[_read_long(c)]
        if t == "fixed":
            n = node["size"]

            def d_fixed(c, _n=n):
                v = c.b[c.i : c.i + _n]
                c.i += _n
                return bytes(v)

            return d_fixed
        if t == "array":
            item = _compile_decoder(node["items"])

            def d_array(c, _item=item):
                out = []
                while True:
                    n = _read_long(c)
                    if n == 0:
                        return out
                    if n < 0:
                        _read_long(c)  # block byte-size hint, unused
                        n = -n
                    for _ in range(n):
                        out.append(_item(c))

            return d_array
        if t == "map":
            val = _compile_decoder(node["values"])

            def d_map(c, _val=val):
                out = {}
                while True:
                    n = _read_long(c)
                    if n == 0:
                        return out
                    if n < 0:
                        _read_long(c)
                        n = -n
                    for _ in range(n):
                        k = _read_bytes(c).decode("utf-8")
                        out[k] = _val(c)

            return d_map
        return _compile_decoder(t)
    # primitive name
    if node == "null":
        return lambda c: None
    if node == "boolean":

        def d_bool(c):
            v = c.b[c.i] != 0
            c.i += 1
            return v

        return d_bool
    if node in ("int", "long"):
        return _read_long
    if node == "float":

        def d_float(c):
            (v,) = struct.unpack_from("<f", c.b, c.i)
            c.i += 4
            return v

        return d_float
    if node == "double":

        def d_double(c):
            (v,) = struct.unpack_from("<d", c.b, c.i)
            c.i += 8
            return v

        return d_double
    if node == "bytes":
        return lambda c: bytes(_read_bytes(c))
    if node == "string":
        return lambda c: _read_bytes(c).decode("utf-8")
    raise ValueError(f"avro: unsupported type {node!r}")


def _compile_encoder(node):
    """Avro schema node → fn(bytearray, value)."""
    if isinstance(node, list):
        inner, null_idx = _union_branch(node)
        enc = _compile_encoder(inner)
        val_idx = 1 - null_idx

        def e_union(out, v, _enc=enc, _ni=null_idx, _vi=val_idx):
            if v is None:
                _write_long(out, _ni)
            else:
                _write_long(out, _vi)
                _enc(out, v)

        return e_union
    if isinstance(node, dict):
        t = node["type"]
        logical = node.get("logicalType")
        if t == "int" and logical == "date":
            return lambda out, v: _write_long(out, v.toordinal() - _EPOCH_ORD)
        if t == "long" and logical in ("timestamp-micros", "local-timestamp-micros"):

            def e_ts(out, v):
                td = _to_utc_naive(v) - _EPOCH_DT
                _write_long(out, (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds)

            return e_ts
        if t == "long" and logical in ("timestamp-millis", "local-timestamp-millis"):

            def e_tsm(out, v):
                td = _to_utc_naive(v) - _EPOCH_DT
                _write_long(out, (td.days * 86400 + td.seconds) * 1_000 + td.microseconds // 1000)

            return e_tsm
        if t == "record":
            fencs = [
                (f["name"], _compile_encoder(f["type"])) for f in node["fields"]
            ]

            def e_record(out, v, _f=fencs):
                for name, enc in _f:
                    enc(out, v[name])

            return e_record
        if t == "enum":
            index = {s: i for i, s in enumerate(node["symbols"])}
            return lambda out, v, _ix=index: _write_long(out, _ix[v])
        if t == "fixed":
            n = node["size"]

            def e_fixed(out, v, _n=n):
                if len(v) != _n:
                    raise ValueError(f"avro: fixed({_n}) got {len(v)} bytes")
                out += v

            return e_fixed
        if t == "array":
            item = _compile_encoder(node["items"])

            def e_array(out, v, _item=item):
                if len(v):
                    _write_long(out, len(v))
                    for x in v:
                        _item(out, x)
                _write_long(out, 0)

            return e_array
        if t == "map":
            val = _compile_encoder(node["values"])

            def e_map(out, v, _val=val):
                items = v.items() if isinstance(v, dict) else list(v)
                if items:
                    _write_long(out, len(items))
                    for k, x in items:
                        _write_bytes(out, k.encode("utf-8"))
                        _val(out, x)
                _write_long(out, 0)

            return e_map
        return _compile_encoder(t)
    if node == "null":
        return lambda out, v: None
    if node == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if node in ("int", "long"):
        return lambda out, v: _write_long(out, int(v))
    if node == "float":
        return lambda out, v: out.extend(struct.pack("<f", v))
    if node == "double":
        return lambda out, v: out.extend(struct.pack("<d", v))
    if node == "bytes":
        return lambda out, v: _write_bytes(out, bytes(v))
    if node == "string":
        return lambda out, v: _write_bytes(out, v.encode("utf-8"))
    raise ValueError(f"avro: unsupported type {node!r}")


# ---------------------------------------------------------------------------
# container format
# ---------------------------------------------------------------------------


def parse_container_header(buf: bytes):
    """Parse a container-file prefix → (schema_node, codec, sync, body_pos).

    Raises ``ValueError`` on a bad magic and ``IndexError`` when ``buf``
    is too short (callers doing ranged reads retry with a longer prefix).
    """
    if buf[:4] != MAGIC:
        raise ValueError("avro: bad container magic")
    c = _Cur(buf, 4)
    meta = {}
    while True:
        n = _read_long(c)
        if n == 0:
            break
        if n < 0:
            _read_long(c)
            n = -n
        for _ in range(n):
            k = _read_bytes(c).decode("utf-8")
            meta[k] = bytes(_read_bytes(c))
    sync = bytes(buf[c.i : c.i + 16])
    if len(sync) != 16:
        raise IndexError("avro: header truncated before sync marker")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    return schema, codec, sync, c.i + 16


def decode_container(buf: bytes):
    """Full container file bytes → (schema_node, iterator of (count, block_cursor))."""
    schema, codec, sync, pos = parse_container_header(buf)
    dec = _compile_decoder(schema)

    def blocks():
        c = _Cur(buf, pos)
        n = len(buf)
        while c.i < n:
            count = _read_long(c)
            size = _read_long(c)
            data = buf[c.i : c.i + size]
            c.i += size
            if bytes(buf[c.i : c.i + 16]) != sync:
                raise ValueError("avro: sync marker mismatch (corrupt block)")
            c.i += 16
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            bc = _Cur(data)
            yield [dec(bc) for _ in range(count)]

    return schema, blocks


def encode_container(
    rows, schema_node, codec: str = "deflate", block_rows: int = 4096
) -> bytes:
    """Encode an iterable of row dicts into one container file's bytes."""
    enc = _compile_encoder(schema_node)
    schema_json = json.dumps(schema_node).encode("utf-8")
    # deterministic sync marker derived from the schema: replays of the
    # same partition produce byte-identical files (idempotent re-commit)
    import hashlib

    sync = hashlib.md5(b"nifi_spark.avro.sync|" + schema_json).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    head = bytearray()
    _write_long(head, 2)
    _write_bytes(head, b"avro.schema")
    _write_bytes(head, schema_json)
    _write_bytes(head, b"avro.codec")
    _write_bytes(head, codec.encode())
    _write_long(head, 0)
    out.write(bytes(head))
    out.write(sync)
    buf = bytearray()
    count = 0

    def flush():
        nonlocal buf, count
        if not count:
            return
        data = bytes(buf)
        if codec == "deflate":
            z = zlib.compressobj(9, zlib.DEFLATED, -15)
            data = z.compress(data) + z.flush()
        blk = bytearray()
        _write_long(blk, count)
        _write_long(blk, len(data))
        out.write(bytes(blk))
        out.write(data)
        out.write(sync)
        buf = bytearray()
        count = 0

    for row in rows:
        enc(buf, row)
        count += 1
        if count >= block_rows:
            flush()
    flush()
    return out.getvalue()


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def jvm_avro_available(spark: SparkSession) -> bool:
    """True when the ``avro`` data source is registered. The probe is
    Spark's own ``DataSource.lookupDataSource`` — a bare Class.forName is
    wrong here: the distribution ships avro CLASSES (avro-mapred) without
    registering the spark-avro source, and only the lookup knows."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def _local_dir(path: str) -> str:
    from ..fsio import _local_path

    p = _local_path(path)
    if p is None:
        raise NotImplementedError(
            "avro: the pure-Python writer targets local paths only; for "
            "hdfs://s3a:// deploy the spark-avro jar (the JVM path is "
            "taken automatically when present)"
        )
    return p


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    block_rows: int = 4096,
) -> int:
    """Write ``df`` as Avro container files under ``path`` (one file per
    partition), returning the row count written. Uses ``format("avro")``
    when the jar is present; otherwise encodes inside ``mapInArrow``
    (executor-side — the driver never sees data rows). Arrow's
    ``to_pylist`` is the value bridge ON PURPOSE: it keeps nullable
    int64 exact (pandas would coerce a nulled int column to lossy
    float64, silently rounding values past 2^53), keeps ``None`` and
    ``NaN`` distinct in double columns, and hands instants over
    timezone-aware so the encoder writes true UTC epoch micros under
    any session timezone.

    Commit protocol: the ``_schema.avsc`` sidecar lands BEFORE the data
    action and ``_SUCCESS`` after it, so a crashed write leaves sidecar-
    without-_SUCCESS — a state :func:`read_avro` refuses — while a dir
    with neither marker is read as externally-produced data. Task
    retries overwrite their own ``part-<id>.avro`` via atomic rename —
    re-runs are idempotent."""
    spark = df.sparkSession
    if jvm_avro_available(spark):
        df.write.format("avro").mode("overwrite").save(path)
        return -1  # JVM path does not count rows
    schema_node = spark_to_avro_schema(df.schema)
    local = _local_dir(path)
    os.makedirs(local, exist_ok=True)
    # overwrite semantics: retract _SUCCESS FIRST so no reader can see
    # the commit marker alongside a partially-deleted file set
    for name in ("_SUCCESS", "_schema.avsc"):
        p = os.path.join(local, name)
        if os.path.exists(p):
            os.remove(p)
    for name in os.listdir(local):
        if name.endswith(".avro"):
            os.remove(os.path.join(local, name))

    def write_part(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = [0]

        def rows():
            for batch in batches:
                for r in batch.to_pylist():
                    seen[0] += 1
                    yield r

        blob = encode_container(rows(), schema_node, codec, block_rows)
        n = seen[0]
        # header-only file (no rows) → skip; schema lives in the sidecar
        if n:
            # pid in the temp name: a speculative/retried attempt must not
            # interleave writes with a live sibling; os.replace keeps the
            # final name atomic either way (last committer wins, files are
            # byte-identical by the deterministic encoder)
            tmp = os.path.join(
                local, f".part-{pid:05d}.{os.getpid()}.avro.tmp"
            )
            with open(tmp, "wb") as f:
                f.write(blob)
            os.replace(tmp, os.path.join(local, f"part-{pid:05d}.avro"))
        yield pa.RecordBatch.from_pydict({"n": [n]})

    with open(os.path.join(local, "_schema.avsc"), "w") as f:
        json.dump(schema_node, f)
    counts = df.mapInArrow(write_part, schema="n long").toPandas()
    with open(os.path.join(local, "_SUCCESS"), "w") as f:
        f.write("")
    return int(counts["n"].sum())


def _default_value(name, node, value):
    """A reader field's JSON ``default`` as the value its decoded rows
    carry. A union's default belongs to its first branch (Avro spec);
    bytes and fixed defaults are JSON strings whose code points are the
    bytes (ISO-8859-1). Defaults this reader cannot convert — logical
    types, records, arrays, maps — raise instead of landing raw JSON in
    a typed column."""
    if isinstance(node, list):
        node = node[0]
    t = node
    if isinstance(node, dict):
        t = None if "logicalType" in node else node["type"]
    if t == "null" and value is None:
        return None
    if t in ("bytes", "fixed") and isinstance(value, str):
        return value.encode("iso-8859-1")
    if t in ("boolean", "int", "long", "float", "double", "string", "enum"):
        return value
    raise ValueError(
        f"avro: cannot convert the default of reader field {name!r} "
        f"(type {json.dumps(node)})"
    )


def _reader_projection(reader_node, writer_node):
    """Avro schema resolution, the additive subset: map a file's rows
    (decoded with ITS writer schema) onto the reader schema's fields.
    Writer-only fields are dropped; reader-only fields take the field's
    declared ``default`` (or null when the field is nullable); a shared
    field whose Spark type differs raises — type promotion is not
    implemented (the spec's full resolution needs the avro jar, which
    the JVM path uses). Returns None when no projection is needed."""
    rfields = {f["name"]: f for f in reader_node["fields"]}
    wfields = {f["name"]: f for f in writer_node["fields"]}

    def check(name):
        rdt, rn = avro_to_spark_type(rfields[name]["type"])
        wdt, wn = avro_to_spark_type(wfields[name]["type"])
        # same Spark type required; reader-nullable over writer-non-null
        # is legal widening, the reverse would let nulls through a
        # non-null contract
        if rdt != wdt or (wn and not rn):
            raise ValueError(
                f"avro: reader/writer type mismatch on field {name!r} "
                "(type promotion is not supported jar-free)"
            )

    if list(rfields) == list(wfields):
        for name in rfields:
            check(name)
        return None
    fills = {}
    for name, f in rfields.items():
        if name in wfields:
            check(name)
            continue
        if "default" in f:
            fills[name] = _default_value(name, f["type"], f["default"])
        elif isinstance(f["type"], list) and "null" in f["type"]:
            fills[name] = None
        else:
            raise ValueError(
                f"avro: reader field {name!r} absent from the writer "
                "schema with no default and no null branch"
            )

    def project(row):
        return {n: (row[n] if n in wfields else fills[n]) for n in rfields}

    return project


def read_avro(
    spark: SparkSession, path: str, avro_schema=None
) -> DataFrame:
    """Read Avro container files under ``path`` into a DataFrame. Takes
    ``format("avro")`` when the jar is present. The fallback discovers
    the reader schema from the ``_schema.avsc`` sidecar or the first
    file's HEADER (a driver-side ranged read — data blocks stay on
    executors), then decodes per file inside ``mapInPandas``: each
    container block becomes one Arrow batch, files parallelize across
    executors. Every file is decoded with its OWN embedded writer
    schema and resolved onto the reader schema via the additive subset
    of Avro schema resolution (dropped fields, defaulted/null new
    fields — :func:`_reader_projection`), so a directory whose files
    straddle an additive evolution reads consistently.

    Commit gate: a ``_schema.avsc`` sidecar WITHOUT ``_SUCCESS`` marks a
    crashed :func:`write_avro` and is refused; a directory with neither
    marker is externally-produced data and reads normally."""
    if jvm_avro_available(spark):
        reader = spark.read.format("avro")
        if avro_schema is not None:
            reader = reader.option("avroSchema", json.dumps(avro_schema))
        return reader.load(path)
    from ..fsio import _local_path

    local = _local_path(path)
    if local is not None and os.path.exists(
        os.path.join(local, "_schema.avsc")
    ) and not os.path.exists(os.path.join(local, "_SUCCESS")):
        raise ValueError(
            f"avro: {path} holds a _schema.avsc sidecar without _SUCCESS "
            "— an interrupted write_avro; re-run the write or clear the dir"
        )
    if avro_schema is None:
        avro_schema = _discover_schema(path)
    sdt, _ = avro_to_spark_type(avro_schema)
    if not isinstance(sdt, T.StructType):
        raise ValueError("avro: top-level schema must be a record")
    field_names = [f.name for f in sdt.fields]
    reader_node = avro_schema

    def decode_part(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                wschema, blocks = decode_container(bytes(blob))
                project = _reader_projection(reader_node, wschema)
                for rows in blocks():
                    if rows:
                        if project is not None:
                            rows = [project(r) for r in rows]
                        # dtype=object keeps nulled int64 columns EXACT
                        # (a default int column with None goes float64
                        # and rounds past 2^53); the one residual pandas
                        # artifact: a decoded NaN double arrives as null
                        # (the Arrow from_pandas bridge conflates them)
                        yield pd.DataFrame(
                            {
                                n: pd.Series(
                                    [r[n] for r in rows], dtype=object
                                )
                                for n in field_names
                            }
                        )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("content")
    )
    return files.mapInPandas(decode_part, schema=sdt)


def decode_avro_datum(
    df: DataFrame, col: str, avro_schema, out_col: str = "parsed"
) -> DataFrame:
    """``from_avro``: decode a BINARY column of raw Avro datum bytes —
    no container framing, the Kafka value wire shape the reference's
    ConsumeKafkaRecord + AvroReader pairing handles with an explicit
    schema (the schema cannot ride along, so the caller supplies it) —
    into a typed struct column. Arrow-batched pandas UDF (the spec's
    binary decoding has no JVM expression without the avro module);
    NULL bytes → a struct with every field null (a pandas-UDF struct
    result cannot express a top-level NULL row — filter NULL bytes
    upstream if the distinction matters). Confluent wire framing (magic byte +
    registry id) is registry-specific and out of scope — strip the
    5-byte prefix upstream with ``F.substring``."""
    import pandas as pd

    sdt, _ = avro_to_spark_type(avro_schema)
    if not isinstance(sdt, T.StructType):
        raise ValueError("avro: datum schema must be a record")
    dec = _compile_decoder(avro_schema)
    names = [f.name for f in sdt.fields]

    @F.pandas_udf(returnType=sdt)
    def _dec_udf(s: pd.Series) -> pd.DataFrame:
        rows = [
            {n: None for n in names} if v is None else dec(_Cur(bytes(v)))
            for v in s
        ]
        # dtype=object: see read_avro's decode_part — exact nulled int64,
        # with NaN→null as the pandas bridge's one residual conflation
        return pd.DataFrame(
            {n: pd.Series([r[n] for r in rows], dtype=object) for n in names}
        )

    return df.withColumn(out_col, _dec_udf(F.col(col)))


def encode_avro_datum(
    df: DataFrame, struct_col: str, avro_schema=None, out_col: str = "avro"
) -> DataFrame:
    """``to_avro``: encode a STRUCT column as raw Avro datum bytes (the
    PublishKafka value shape), appended as binary column ``out_col``.
    The schema defaults to the struct's own Spark schema converted via
    :func:`spark_to_avro_schema`; pass the parsed-JSON Avro schema
    explicitly to pin cross-system bytes.

    Runs on ``mapInArrow``, NOT a pandas UDF, for the same value-fidelity
    reasons as :func:`write_avro`: Arrow's ``to_pylist`` keeps ``None``
    distinct from ``NaN`` (pandas' struct-as-DataFrame bridge turns null
    ints/doubles into NaN — null longs would crash the encoder and null
    doubles would silently hit the wire as NaN), keeps nulled int64
    fields exact past 2^53, and hands instants over timezone-aware. A
    NULL struct row yields NULL bytes."""
    dt = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[
        struct_col
    ]
    if not isinstance(dt, T.StructType):
        raise ValueError(f"avro: {struct_col!r} must be a struct column")
    node = (
        avro_schema
        if avro_schema is not None
        else spark_to_avro_schema(dt)
    )
    enc = _compile_encoder(node)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def enc_part(batches):
        import pyarrow as pa

        for batch in batches:
            vals = batch.column(
                batch.schema.get_field_index(struct_col)
            ).to_pylist()
            blobs = []
            for v in vals:
                if v is None:
                    blobs.append(None)
                else:
                    buf = bytearray()
                    enc(buf, v)
                    blobs.append(bytes(buf))
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(blobs, type=pa.binary())],
                names=list(batch.schema.names) + [out_col],
            )

    return df.mapInArrow(enc_part, schema=out_schema)


def _discover_schema(path: str):
    local = _local_dir(path)
    sidecar = os.path.join(local, "_schema.avsc")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            return json.load(f)
    names = sorted(n for n in os.listdir(local) if n.endswith(".avro"))
    if not names:
        raise FileNotFoundError(f"avro: no *.avro files under {path}")
    # ranged header read: start at 64 KiB, double until the header parses
    fp = os.path.join(local, names[0])
    size = 1 << 16
    while True:
        with open(fp, "rb") as f:
            buf = f.read(size)
        try:
            schema, _codec, _sync, _pos = parse_container_header(buf)
            return schema
        except (IndexError, json.JSONDecodeError, UnicodeDecodeError):
            # truncated mid-metadata (short varint / sync / schema JSON /
            # mid-multibyte UTF-8): retry with a longer prefix unless the
            # whole file is already read
            if len(buf) < size:
                raise ValueError(f"avro: truncated container header in {fp}")
            size <<= 1
