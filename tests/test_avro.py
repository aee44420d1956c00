"""AvroUtil conversion semantics (avro/AvroUtil.java:83-204) as column
expressions: epoch-millis temporals, decimal padding/plain strings,
identifier cleaning, and the documented round-trip."""

import datetime as dt

import pytest
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.avro import (
    avro_record_frame,
    from_avro_frame,
    to_avro_identifier,
)


def test_to_avro_identifier_parity():
    """AvroUtil.toAvroIdentifier:165-186: non-alnum runs collapse to one
    '_', non-letter initials get the AVRO_ prefix."""
    assert to_avro_identifier("order id") == "order_id"
    assert to_avro_identifier("a--b__c") == "a_b__c"
    assert to_avro_identifier("total$%amount") == "total_amount"
    assert to_avro_identifier("_leading") == "_leading"
    assert to_avro_identifier("9col") == "AVRO_9col"
    assert to_avro_identifier("clean") == "clean"


def test_avro_temporal_to_epoch_millis(spark):
    """Date/Time/Timestamp → getTime() epoch millis (AvroUtil:128-133);
    micros truncate to millis — the reference's documented loss."""
    ts = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    d = dt.date(2024, 3, 1)
    df = spark.createDataFrame([(ts, d)], "ts timestamp, d date")
    row = avro_record_frame(df).collect()[0]
    assert row["ts"] == int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert row["ts"] % 1000 == 123  # millis kept, micros dropped
    midnight = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    assert row["d"] == int(midnight.timestamp() * 1000)


def test_avro_decimal_padding_and_plain_string(spark):
    """BigDecimal → toPlainString; padding pads to the declared scale
    (AvroUtil.padBigDecimal:83-92, sqoop.avro.decimal_padding.enable)."""
    schema = T.StructType([T.StructField("v", T.DecimalType(12, 3))])
    df = spark.createDataFrame([(Decimal("12.5"),), (Decimal("0.001"),)], schema)
    got = [r["v"] for r in avro_record_frame(df, decimal_padding=True).collect()]
    assert got == ["12.500", "0.001"]  # padded to scale 3, no exponent
    # schema: converted frame carries string/long types, cleaned names
    df2 = spark.createDataFrame(
        [(1, Decimal("1.0"))],
        T.StructType(
            [T.StructField("order id", T.LongType()), T.StructField("v", T.DecimalType(4, 2))]
        ),
    )
    out = avro_record_frame(df2)
    assert out.columns == ["order_id", "v"]
    assert dict(out.dtypes)["v"] == "string"


def test_avro_roundtrip(spark, scratch):
    """to-Avro → (container) → from-Avro is the identity up to millis
    truncation — the reference's import-then-export contract. The parquet
    container stands in for the gated spark-avro jar; the conversions are
    identical either way."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("amount", T.DecimalType(10, 2)),
            T.StructField("name", T.StringType()),
        ]
    )
    rows = [
        (1, dt.datetime(2024, 1, 1, 8, 0, 0, 111000), Decimal("10.50"), "a"),
        (2, dt.datetime(2024, 6, 15, 23, 59, 59, 999000), Decimal("-3.07"), None),
    ]
    df = spark.createDataFrame(rows, schema)
    path = f"{scratch}/avro_rt"
    avro_record_frame(df, decimal_padding=True).write.parquet(path)
    back = from_avro_frame(spark.read.parquet(path), schema)
    got = sorted(back.collect(), key=lambda r: r["id"])
    assert [tuple(r) for r in got] == rows  # millis-precision inputs round-trip


# -- the pure-Python Object Container File writer/reader --------------------


def test_avro_varint_spec_vectors():
    """Binary-encoding spec vectors (Avro 1.11 spec §Binary Encoding —
    the published zigzag examples), independent of our reader."""
    import io

    from sqoop_spark.avro_container import read_long, write_long

    vectors = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
               -64: b"\x7f", 64: b"\x80\x01", -65: b"\x81\x01",
               2**31 - 1: b"\xfe\xff\xff\xff\x0f",
               -(2**63): b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01"}
    for n, expected in vectors.items():
        out = io.BytesIO()
        write_long(out, n)
        assert out.getvalue() == expected, n
        assert read_long(io.BytesIO(expected)) == n


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(spark, scratch, codec):
    """Container round-trip across partitions with nulls, negatives,
    unicode, and binary — magic/metadata/sync validated by the reader."""
    from sqoop_spark.avro_container import read_avro_container, write_avro_container

    rows = [
        (0, "héllo", 1.5, True, bytearray(b"\x00\x01")),
        (-(2**40), None, None, None, None),
        (7, "x,y\n z", -0.25, False, bytearray(b"")),
        (2**50, "", float("inf"), True, bytearray(b"\xff" * 5)),
    ]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("raw", T.BinaryType()),
    ])
    df = spark.createDataFrame(rows, schema).repartition(3)
    path = f"{scratch}/container_{codec}"
    write_avro_container(df, path, codec=codec, convert=False)

    import os

    parts = [p for p in os.listdir(path) if p.endswith(".avro")]
    assert len(parts) == 3 and os.path.exists(f"{path}/_SUCCESS")
    aschema, got = read_avro_container(path)
    assert [f["name"] for f in aschema["fields"]] == list(df.columns)
    assert all(f["type"] == ["null", t] for f, t in zip(
        aschema["fields"], ["long", "string", "double", "boolean", "bytes"]))
    norm = lambda r: (r[0], r[1], r[2], r[3], bytes(r[4]) if r[4] is not None else None)  # noqa: E731
    assert sorted(map(norm, got)) == sorted(map(norm, rows))


def test_avro_container_overwrite_clears_stale_parts(spark, scratch):
    """Re-exporting into an existing path with fewer partitions must not
    leave stale part-NNNNN.avro files that a reader would merge in —
    overwrite semantics match the JVM writer's mode('overwrite')."""
    import os

    from sqoop_spark.avro_container import read_avro_container, write_avro_container

    path = f"{scratch}/ovr"
    write_avro_container(spark.range(30).repartition(3), path, convert=False)
    assert len([p for p in os.listdir(path) if p.endswith(".avro")]) == 3

    write_avro_container(spark.range(5).repartition(1), path, convert=False)
    parts = [p for p in os.listdir(path) if p.endswith(".avro")]
    assert parts == ["part-00000.avro"]
    _, rows = read_avro_container(path)
    assert sorted(r[0] for r in rows) == list(range(5))


def test_avro_container_applies_toavro_conversions(spark, scratch):
    """convert=True runs avro_record_frame: timestamps land as epoch
    millis, decimals as padded plain strings, names cleaned — the file
    carries what the reference's Avro import writes."""
    from sqoop_spark.avro_container import read_avro_container, write_avro_container

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1, 12, 0, 0, 250000), Decimal("1.500"))],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("order total", T.DecimalType(10, 3)),
        ]),
    )
    path = f"{scratch}/container_conv"
    write_avro_container(df, path)
    aschema, got = read_avro_container(path)
    assert [f["name"] for f in aschema["fields"]] == ["id", "ts", "order_total"]
    assert got == [(1, 1709294400250, "1.500")]


def test_avro_container_block_streaming(spark, scratch):
    """Rows stream in bounded blocks (objects_per_block) — many small
    blocks must reassemble exactly."""
    from sqoop_spark.avro_container import read_avro_container, write_avro_container

    df = spark.range(1000).selectExpr("id", "repeat('x', CAST(id % 17 AS INT)) AS s")
    path = f"{scratch}/container_blocks"
    write_avro_container(df.repartition(2), path, objects_per_block=64, convert=False)
    _, got = read_avro_container(path)
    assert sorted(got) == [(i, "x" * (i % 17)) for i in range(1000)]


def test_avro_container_rejects_unconverted_types(spark):
    from sqoop_spark.avro_container import avro_schema_for
    from sqoop_spark.errors import EngineError

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    with pytest.raises(EngineError, match="avro_record_frame"):
        avro_schema_for(schema)


def test_cli_export_avro(spark, scratch, capsys):
    """export --format avro writes a readable container via the sink."""
    import json as _json

    from sqoop_spark.avro_container import read_avro_container
    from sqoop_spark.cli import main as cli_main

    src = f"{scratch}/avro_src"
    spark.range(50).selectExpr("id", "CAST(id * 2 AS STRING) AS v").write.parquet(src)
    target = f"{scratch}/avro_out"
    assert cli_main(["export", "--source", src, "--target-table", target,
                     "--format", "avro"]) == 0
    assert _json.loads(capsys.readouterr().out)["rows"] == 50
    _, got = read_avro_container(target)
    assert sorted(got) == [(i, str(2 * i)) for i in range(50)]


_PIN_ROWS = [
    (0, 1, "héllo", 1.5, 0.25, True, bytearray(b"\x00\x01"), Decimal("1.500")),
    (-(2**40), None, None, None, None, None, None, None),
    (7, -3, "x,y\n z", -0.25, -2.0, False, bytearray(b""), Decimal("-0.001")),
    (2**50, 2**31 - 1, "", float("inf"), 1e30, True, bytearray(b"\xff" * 5), Decimal("12.5")),
    (5, 0, "tail", 0.0, None, None, bytearray(b"z"), Decimal("0")),
]
_PIN_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("s", T.StringType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("f", T.FloatType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("raw", T.BinaryType()),
    T.StructField("order total", T.DecimalType(10, 3)),
])


@pytest.mark.parametrize("codec,sha256", [
    ("null", "e6e975053023c460f01207788a10d5e73ddbec012858be6fddd0435c4594813b"),
    ("deflate", "7040d0810f5df947362c5fc199cb056c5ca96cd38b8cc2087048396ff167fab9"),
])
def test_avro_container_bytes_pinned(spark, scratch, codec, sha256):
    """Byte pin of the --as-avrodatafile format: a one-partition frame
    (every primitive, nulls, a converted decimal, three blocks) must
    export to exactly these bytes, so codec refactors cannot drift the
    file format while still round-tripping through their own reader."""
    import hashlib

    from sqoop_spark.avro_container import write_avro_container

    df = spark.createDataFrame(_PIN_ROWS, _PIN_SCHEMA).coalesce(1)
    path = f"{scratch}/pin_{codec}"
    write_avro_container(df, path, codec=codec, objects_per_block=2)
    with open(f"{path}/part-00000.avro", "rb") as fh:
        assert hashlib.sha256(fh.read()).hexdigest() == sha256
