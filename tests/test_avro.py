"""Avro container reader/writer (sources/avro.py — ≙ the reference's
AvroReader.java / AvroRecordSetWriter.java record-serialization pair).

The sandbox has no spark-avro jar, so these tests exercise the
pure-Python fallback end to end: byte-level golden vectors against the
public Avro 1.11 spec, container round-trips through Spark, schema
conversion both ways, codecs, and the commit protocol.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from nifi_spark.sources.avro import (
    _Cur,
    _compile_decoder,
    _compile_encoder,
    _read_long,
    _write_long,
    avro_to_spark_type,
    decode_container,
    encode_container,
    jvm_avro_available,
    parse_container_header,
    read_avro,
    spark_to_avro_schema,
    write_avro,
)


# -- byte-level spec vectors -------------------------------------------------


def test_zigzag_varint_golden():
    # the spec's worked examples: 0→00, -1→01, 1→02, -2→03, 2→04, -64→7f,
    # 64→80 01
    for n, want in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                    (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                    (64, b"\x80\x01")]:
        out = bytearray()
        _write_long(out, n)
        assert bytes(out) == want, n
        assert _read_long(_Cur(bytes(out))) == n


def test_primitive_encdec_roundtrip():
    cases = [
        ("boolean", True), ("boolean", False),
        ("int", -123456), ("long", 2**53 + 7),
        ("float", 1.5), ("double", -2.25),
        ("bytes", b"\x00\xff\x10"), ("string", "héllo wörld"),
    ]
    for node, v in cases:
        out = bytearray()
        _compile_encoder(node)(out, v)
        got = _compile_decoder(node)(_Cur(bytes(out)))
        assert got == v, node


def test_complex_encdec_roundtrip():
    node = {
        "type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "int"}},
            {"name": "kind", "type": {"type": "enum", "name": "k",
                                      "symbols": ["A", "B", "C"]}},
            {"name": "fp", "type": {"type": "fixed", "name": "f", "size": 4}},
            {"name": "opt", "type": ["null", "string"]},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
        ],
    }
    row = {
        "id": 9, "tags": ["x", "y"], "attrs": {"a": 1, "b": 2}, "kind": "B",
        "fp": b"\x01\x02\x03\x04", "opt": None,
        "d": dt.date(2024, 3, 1),
        "ts": dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
    }
    out = bytearray()
    _compile_encoder(node)(out, row)
    got = _compile_decoder(node)(_Cur(bytes(out)))
    # timestamp-micros is an INSTANT: naive input is treated as UTC and
    # decodes timezone-aware (same instant)
    want = dict(row, ts=row["ts"].replace(tzinfo=dt.timezone.utc))
    assert got == want


def test_timestamp_micros_is_utc_instant():
    """The spec defines timestamp-micros as UTC epoch micros: an AWARE
    non-UTC datetime must encode its instant, not its local clock."""
    node = {"type": "long", "logicalType": "timestamp-micros"}
    tz5 = dt.timezone(dt.timedelta(hours=5))
    aware = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=tz5)  # 07:00Z
    out = bytearray()
    _compile_encoder(node)(out, aware)
    got = _compile_decoder(node)(_Cur(bytes(out)))
    assert got == dt.datetime(2024, 1, 1, 7, 0, 0, tzinfo=dt.timezone.utc)
    # and the raw long is the true epoch micros
    out2 = bytearray()
    _compile_encoder("long")(out2, 1_704_092_400_000_000)
    assert bytes(out) == bytes(out2)


def test_general_union_rejected():
    with pytest.raises(ValueError, match="unions"):
        _compile_decoder(["int", "string"])
    with pytest.raises(ValueError, match="unions"):
        avro_to_spark_type(["null", "int", "string"])


def test_container_golden_header_and_blocks():
    node = {"type": "record", "name": "r",
            "fields": [{"name": "x", "type": "long"}]}
    blob = encode_container([{"x": 1}, {"x": 2}], node, codec="null")
    assert blob[:4] == b"Obj\x01"
    schema, codec, sync, pos = parse_container_header(blob)
    assert schema == node and codec == "null" and len(sync) == 16
    # block layout after the header: count=2 (04), size=2 (04), two
    # 1-byte rows (02 04 = zigzag 1, 2), then the sync marker again
    assert blob[pos:pos + 4] == b"\x04\x04\x02\x04"
    assert blob[pos + 4:pos + 20] == sync
    _s, blocks = decode_container(blob)
    assert [r["x"] for b in blocks() for r in b] == [1, 2]


def test_container_deflate_and_blocking():
    node = {"type": "record", "name": "r",
            "fields": [{"name": "x", "type": "long"}]}
    rows = [{"x": i} for i in range(10_000)]
    blob = encode_container(rows, node, codec="deflate", block_rows=1024)
    _s, blocks = decode_container(blob)
    out = [r["x"] for b in blocks() for r in b]
    assert out == list(range(10_000))
    # deflate beats the uncompressed container on 10k zigzag longs
    raw = encode_container(rows, node, codec="null", block_rows=1024)
    assert len(blob) < len(raw)


def test_corrupt_sync_detected():
    node = {"type": "record", "name": "r",
            "fields": [{"name": "x", "type": "long"}]}
    blob = bytearray(encode_container([{"x": 1}], node, codec="null"))
    blob[-1] ^= 0xFF  # flip the trailing sync byte
    _s, blocks = decode_container(bytes(blob))
    with pytest.raises(ValueError, match="sync marker"):
        list(blocks())


# -- schema conversion -------------------------------------------------------


def test_schema_conversion_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5, dt.datetime(2024, 1, 1), dt.date(2024, 1, 2),
          b"\x01", ["x"], {"k": 2}, (7, "in"))],
        "id long, s string, v double, ts timestamp, d date, b binary, "
        "arr array<string>, m map<string,int>, "
        "st struct<n:long, t:string>",
    )
    node = spark_to_avro_schema(df.schema)
    sdt, nullable = avro_to_spark_type(node)
    assert not nullable
    # Spark's DDL defaults every field to nullable; conversion keeps that
    assert sdt.simpleString() == df.schema.simpleString()


def test_schema_decimal_rejected():
    with pytest.raises(ValueError, match="decimal"):
        avro_to_spark_type({"type": "bytes", "logicalType": "decimal",
                            "precision": 10, "scale": 2})


# -- Spark read/write --------------------------------------------------------


def test_write_read_roundtrip_spark(spark, tmp_path):
    assert not jvm_avro_available(spark)  # sandbox precondition
    df = spark.createDataFrame(
        [
            (1, "alpha", 1.25, dt.datetime(2024, 1, 1, 10, 0, 0, 500), None),
            (2, "beta", None, dt.datetime(2024, 6, 30, 23, 59, 59), "t2"),
            (3, "gamma", -0.5, dt.datetime(2023, 2, 28, 0, 0, 1), "t3"),
        ],
        "id long, name string, score double, ts timestamp, tool string",
    ).repartition(2)
    path = str(tmp_path / "out_avro")
    n = write_avro(df, path, codec="deflate")
    assert n == 3
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "_schema.avsc"))
    back = read_avro(spark, path)
    assert back.schema.simpleString() == df.schema.simpleString()
    got = sorted(back.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert got == want


def test_roundtrip_timestamp_ntz(spark, tmp_path):
    """Parquet-loaded tables surface timestamp_ntz; it maps to Avro's
    local-timestamp-micros and must round-trip value-exact."""
    df = spark.sql(
        "SELECT id, timestamp_ntz'2024-05-01 01:02:03.000004' + "
        "make_interval(0,0,0,0,0,0,id) AS ts FROM range(3)"
    )
    assert "timestamp_ntz" in df.schema.simpleString()
    path = str(tmp_path / "ntz_avro")
    write_avro(df, path)
    node = json.load(open(os.path.join(path, "_schema.avsc")))
    assert any(
        f["name"] == "ts"
        and "local-timestamp-micros" in json.dumps(f["type"])
        for f in node["fields"]
    )
    back = read_avro(spark, path)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_roundtrip_nested_types(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ["a", "b"], {"k1": 10}, (5, "x")), (2, [], {}, (6, None))],
        "id long, tags array<string>, attrs map<string,long>, "
        "st struct<n:long, t:string>",
    )
    path = str(tmp_path / "nested_avro")
    assert write_avro(df, path, codec="null") == 2
    back = read_avro(spark, path)
    got = {r.id: r for r in back.collect()}
    assert got[1].tags == ["a", "b"] and got[1].attrs == {"k1": 10}
    assert got[1].st.n == 5 and got[2].st.t is None and got[2].tags == []


def test_empty_dataframe_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([], "id long, s string")
    path = str(tmp_path / "empty_avro")
    assert write_avro(df, path) == 0
    back = read_avro(spark, path)  # schema from the sidecar, no data files
    assert back.schema.simpleString() == df.schema.simpleString()
    assert back.count() == 0


def test_write_overwrites_previous(spark, tmp_path):
    path = str(tmp_path / "ow_avro")
    df1 = spark.createDataFrame([(i,) for i in range(10)], "id long")
    df2 = spark.createDataFrame([(99,)], "id long").coalesce(1)
    write_avro(df1, path)
    write_avro(df2, path)
    assert [r.id for r in read_avro(spark, path).collect()] == [99]


def test_header_discovery_without_sidecar(spark, tmp_path):
    path = str(tmp_path / "hdr_avro")
    df = spark.createDataFrame([(4, "q")], "id long, s string").coalesce(1)
    write_avro(df, path)
    os.remove(os.path.join(path, "_schema.avsc"))  # force header read
    back = read_avro(spark, path)
    assert [tuple(r) for r in back.collect()] == [(4, "q")]


def test_explicit_reader_schema(spark, tmp_path):
    path = str(tmp_path / "exp_avro")
    df = spark.createDataFrame([(4, "q")], "id long, s string").coalesce(1)
    write_avro(df, path)
    node = json.load(open(os.path.join(path, "_schema.avsc")))
    back = read_avro(spark, path, avro_schema=node)
    assert back.count() == 1


def test_datum_roundtrip(spark):
    """from_avro/to_avro analogs: raw datum bytes (Kafka value shape),
    no container framing — encode a struct column, decode it back."""
    from nifi_spark.sources.avro import decode_avro_datum, encode_avro_datum
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None)], "id long, s string, v double"
    ).select(F.struct("id", "s", "v").alias("rec"))
    enc = encode_avro_datum(df, "rec")
    node = spark_to_avro_schema(
        df.schema.fields[0].dataType
    )
    back = decode_avro_datum(enc, "avro", node)
    rows = sorted((r.parsed.id, r.parsed.s, r.parsed.v) for r in back.collect())
    assert rows == [(1, "a", 2.5), (2, "b", None)]
    # datum bytes for row (1,'a',2.5): every Spark DDL field is nullable,
    # so each value carries its [null,X] union index 1 (zigzag 02) first:
    # id 02 02, s 02 02 'a', v 02 + little-endian double 2.5
    blob = {r.parsed.id: bytes(r.avro) for r in back.collect()}[1]
    import struct as _st

    assert blob == b"\x02\x02\x02\x02a\x02" + _st.pack("<d", 2.5)


def test_datum_null_and_bad_schema(spark):
    from nifi_spark.sources.avro import decode_avro_datum, encode_avro_datum
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="struct column"):
        encode_avro_datum(df, "id")
    with pytest.raises(ValueError, match="record"):
        decode_avro_datum(df.selectExpr("cast(null as binary) b"), "b", "long")


def test_nullable_long_precision_preserved(spark, tmp_path):
    """A nullable long column containing a null must NOT round through
    pandas float64 (which silently rounds values past 2^53) — the Arrow
    to_pylist bridge keeps int64 exact."""
    big = 2**53 + 7
    df = spark.createDataFrame(
        [(1, big), (2, None)], "id long, v long"
    ).coalesce(1)
    path = str(tmp_path / "big_avro")
    assert write_avro(df, path) == 2
    got = {r.id: r.v for r in read_avro(spark, path).collect()}
    assert got[1] == big and got[2] is None


def test_datum_null_fields_and_null_rows(spark):
    """Null long/double fields inside the struct must encode as the
    union NULL branch (not crash, not NaN-on-the-wire); a NULL struct
    row yields NULL bytes."""
    from pyspark.sql import functions as F

    from nifi_spark.sources.avro import decode_avro_datum, encode_avro_datum

    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, None, None), (3, 7, float("nan"))],
        "id long, n long, v double",
    ).select(
        "id",
        F.when(F.col("id") != 9, F.struct("id", "n", "v")).alias("rec"),
    )
    enc = encode_avro_datum(df, "rec")
    node = spark_to_avro_schema(df.schema.fields[1].dataType)
    rows = {r.id: r for r in enc.collect()}
    # null long field: wire carries the union null branch (0x00), and the
    # whole row still encodes
    blob2 = bytes(rows[2].avro)
    assert blob2 == b"\x02\x04" + b"\x00" + b"\x00"  # id=2, n=null, v=null
    # a REAL NaN in a double is a value, not a null
    blob3 = bytes(rows[3].avro)
    assert blob3.endswith(b"\x02" + bytes.fromhex("000000000000f87f"))
    back = decode_avro_datum(enc.select("id", "avro"), "avro", node)
    got = {r.id: r.parsed for r in back.collect()}
    assert got[2].n is None and got[2].v is None
    # the WIRE keeps NaN (asserted on blob3 above); the pandas decode
    # bridge conflates a decoded NaN back to null (documented limitation)
    assert got[3].n == 7 and got[3].v is None


def test_crashed_write_is_refused(spark, tmp_path):
    path = str(tmp_path / "crash_avro")
    df = spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1)
    write_avro(df, path)
    os.remove(os.path.join(path, "_SUCCESS"))  # simulate a mid-write crash
    with pytest.raises(ValueError, match="without _SUCCESS"):
        read_avro(spark, path)


def test_reader_schema_additive_evolution(spark, tmp_path):
    """Files decoded with their writer schema resolve onto a reader
    schema that adds a nullable/defaulted field and drops another."""
    path = str(tmp_path / "evo_avro")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_avro(df, path)
    reader = {
        "type": "record", "name": "topLevelRecord",
        "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "extra", "type": ["null", "string"]},
            {"name": "tagged", "type": "string", "default": "x"},
        ],
    }
    got = sorted(
        read_avro(spark, path, avro_schema=reader).collect(),
        key=lambda r: r.id,
    )
    assert [(r.id, r.extra, r.tagged) for r in got] == [
        (1, None, "x"), (2, None, "x"),
    ]
    # a shared field whose type changed is refused, not mis-typed
    bad = {
        "type": "record", "name": "topLevelRecord",
        "fields": [{"name": "id", "type": ["null", "string"]}],
    }
    with pytest.raises(Exception, match="type mismatch"):
        read_avro(spark, path, avro_schema=bad).collect()


@pytest.mark.parametrize(
    "ftype, default, want",
    [
        ("bytes", "\u00ff\u0000a", b"\xff\x00a"),
        ({"type": "fixed", "name": "F3", "size": 3}, "z\u00e9\u0001", b"z\xe9\x01"),
    ],
    ids=["bytes", "fixed"],
)
def test_reader_default_bytes_and_fixed(spark, tmp_path, ftype, default, want):
    """A bytes/fixed default is a JSON string whose code points are the
    bytes (ISO-8859-1); the reader fills the column with those bytes."""
    path = str(tmp_path / "def_avro")
    write_avro(spark.createDataFrame([(1,), (2,)], "id long"), path)
    reader = {
        "type": "record", "name": "topLevelRecord",
        "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "blob", "type": ftype, "default": default},
        ],
    }
    got = read_avro(spark, path, avro_schema=reader).collect()
    assert sorted((r.id, bytes(r.blob)) for r in got) == [(1, want), (2, want)]


@pytest.mark.parametrize(
    "ftype, default",
    [
        ({"type": "int", "logicalType": "date"}, 0),
        ({"type": "record", "name": "R", "fields": [{"name": "x", "type": "int"}]},
         {"x": 1}),
    ],
    ids=["logical", "record"],
)
def test_reader_default_unconvertible_raises(ftype, default):
    """Defaults the reader cannot convert raise instead of landing raw
    JSON in a typed column."""
    from nifi_spark.sources.avro import _reader_projection

    writer = {"type": "record", "name": "r", "fields": [{"name": "id", "type": "long"}]}
    reader = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "extra", "type": ftype, "default": default},
        ],
    }
    with pytest.raises(ValueError, match="cannot convert the default of reader field 'extra'"):
        _reader_projection(reader, writer)


def test_remote_path_rejected(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(NotImplementedError, match="local paths"):
        write_avro(df, "s3a://bucket/x")
