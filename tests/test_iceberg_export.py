"""Iceberg v2 metadata export: ecosystem-readability of lake snapshots.

The export must be resolvable exactly the way an Iceberg reader resolves
a table — metadata.json → current snapshot → manifest-list avro →
manifest avro → data files — and the files it lists must reproduce the
live table's rows bit-for-bit. No Iceberg runtime ships in this sandbox,
so resolution uses the generic schema-driven Avro decoder (the binary
primitives are the spec-pinned ones from avro_container.py); structural
assertions pin the v2 spec fields an external reader depends on.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from sqoop_spark.errors import EngineError
from sqoop_spark.lake import LakeTable
from sqoop_spark.lake.iceberg_export import (
    export_iceberg,
    read_avro,
    read_data_files,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _table(spark, scratch, name, n=300):
    import datetime as dt

    t = LakeTable.create(
        spark,
        os.path.join(scratch, name),
        SCHEMA,
        ["k"],
        num_buckets=4,
        properties={"order_column": "seq"},
    )
    base = dt.datetime(2024, 6, 1)
    t.append(
        spark.createDataFrame(
            [(k, k, f"v{k}", base + dt.timedelta(minutes=k)) for k in range(n)],
            SCHEMA,
        )
    )
    return t


def test_export_roundtrip_value_equal(spark, scratch):
    t = _table(spark, scratch, "ice1")
    md = export_iceberg(t)
    files = read_data_files(md)
    live = len([e for e in t.manifest()["files"] if not e.get("tombstone")])
    assert len(files) == live and files, "one data_file per live entry"
    assert all(f["file_format"] == "PARQUET" for f in files)
    assert sum(f["record_count"] for f in files) == 300
    got = (
        spark.read.schema(t.schema())
        .parquet(*[f["file_path"] for f in files])
        .select("k", "seq", "v", "ts")
    )
    want = t.read().select("k", "seq", "v", "ts")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_metadata_json_v2_structure(spark, scratch):
    t = _table(spark, scratch, "ice2", n=50)
    md = export_iceberg(t, dest=os.path.join(scratch, "ice2_meta"))
    doc = json.load(open(md))
    assert doc["format-version"] == 2
    assert doc["current-schema-id"] == 0
    schema = doc["schemas"][0]
    assert schema["type"] == "struct"
    names = {f["name"]: f for f in schema["fields"]}
    assert set(names) == {"k", "seq", "v", "ts"}
    assert names["k"]["required"] is True  # key column
    assert names["v"]["required"] is False
    # Spark TimestampType = TIMESTAMP_MICROS adjusted-to-UTC = timestamptz
    assert names["ts"]["type"] == "timestamptz"
    assert schema["identifier-field-ids"] == [names["k"]["id"]]
    # Spark parquet has no Iceberg field ids: the name mapping is what
    # lets external readers resolve columns
    nm = json.loads(doc["properties"]["schema.name-mapping.default"])
    assert {m["names"][0]: m["field-id"] for m in nm} == {
        n: f["id"] for n, f in names.items()
    }
    assert doc["partition-specs"] == [{"spec-id": 0, "fields": []}]
    assert doc["sort-orders"] == [{"order-id": 0, "fields": []}]
    snap = doc["snapshots"][0]
    assert snap["snapshot-id"] == doc["current-snapshot-id"]
    assert os.path.isfile(snap["manifest-list"])
    # version-hint for HadoopTables-style filesystem catalogs
    hint = os.path.join(os.path.dirname(md), "version-hint.text")
    assert open(hint).read() == "1"
    # manifest list carries the spec's v2 counters
    _, meta, manifests = read_avro(snap["manifest-list"])
    assert meta.get("format-version") == b"2"
    assert manifests[0]["content"] == 0
    assert manifests[0]["added_rows_count"] == 50
    # manifest file metadata declares the data content + schema
    _, mmeta, entries = read_avro(manifests[0]["manifest_path"])
    assert mmeta.get("content") == b"data"
    assert json.loads(mmeta["schema"])["type"] == "struct"
    assert all(e["status"] == 1 for e in entries)


def test_export_refuses_unmerged_deltas_then_allows_after_compact(spark, scratch):
    from sqoop_spark.cdc.merge import merge_apply

    t = _table(spark, scratch, "ice3", n=100)
    batch = spark.createDataFrame(
        [(5, 9000, "newer", None, "upsert")],
        T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())]),
    )
    merge_apply(t, batch, batch_id=1, order_col="seq", strategy="mor")
    with pytest.raises(EngineError, match="unmerged MoR deltas"):
        export_iceberg(t)
    t.compact()
    md = export_iceberg(t)
    files = read_data_files(md)
    got = spark.read.schema(t.schema()).parquet(
        *[f["file_path"] for f in files]
    )
    assert got.filter("k = 5").collect()[0].v == "newer"
    assert got.count() == t.read().count()


def test_export_refuses_int96_timestamps_then_allows_after_rewrite(spark, scratch):
    """A table whose parquet stores INT96 timestamps (written before lake
    writes pinned TIMESTAMP_MICROS, or under a foreign session conf) is
    refused like unmerged deltas: the Iceberg spec forbids INT96."""
    import pyarrow.parquet as pq

    t = _table(spark, scratch, "ice_int96", n=40)
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "INT96")
    try:
        for i, e in enumerate(t.manifest()["files"]):
            full = os.path.join(t.path, e["path"])
            tmp = os.path.join(scratch, f"int96_{i}")
            spark.read.parquet(full).coalesce(1).write.parquet(tmp)
            (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
            os.replace(os.path.join(tmp, part), full)
            crc = os.path.join(os.path.dirname(full), f".{os.path.basename(full)}.crc")
            if os.path.exists(crc):  # stale checksum of the replaced file
                os.unlink(crc)
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    schema = pq.read_metadata(full).schema
    assert "INT96" in {schema.column(i).physical_type for i in range(len(schema))}
    with pytest.raises(EngineError, match="INT96"):
        export_iceberg(t)
    t.rewrite_clustered()
    files = read_data_files(export_iceberg(t))
    assert sum(f["record_count"] for f in files) == 40


def test_export_time_travel_version(spark, scratch):
    t = _table(spark, scratch, "ice4", n=40)
    v1 = t.current_version()
    t.append(
        spark.createDataFrame([(1000, 1000, "late", None)], SCHEMA)
    )
    md = export_iceberg(t, dest=os.path.join(scratch, "ice4_v1"), version=v1)
    files = read_data_files(md)
    assert sum(f["record_count"] for f in files) == 40  # pre-append state


def test_symlink_manifest_duckdb_external_readback(spark, scratch):
    """The symlink-format manifest is consumable by an EXTERNAL engine:
    DuckDB reads exactly the listed parquet files and must reproduce the
    live table's rows — genuine cross-engine verification, not a
    round-trip through our own reader."""
    import duckdb

    from sqoop_spark.lake.symlink_export import (
        export_symlink_manifest,
        read_manifest_paths,
    )

    t = _table(spark, scratch, "sym1", n=120)
    mf = export_symlink_manifest(t)
    paths = read_manifest_paths(mf)
    assert paths and all(p.endswith(".parquet") for p in paths)
    con = duckdb.connect()
    got = con.execute(
        "select k, seq, v from read_parquet(?) order by k", [paths]
    ).fetchall()
    want = sorted((r.k, r.seq, r.v) for r in t.read().select("k", "seq", "v").collect())
    assert got == [tuple(w) for w in want]
    # refuses unmerged deltas, allows after compact (same rule as iceberg)
    from sqoop_spark.cdc.merge import merge_apply

    batch = spark.createDataFrame(
        [(5, 9000, "newer", None, "upsert")],
        T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())]),
    )
    merge_apply(t, batch, batch_id=1, order_col="seq", strategy="mor")
    with pytest.raises(EngineError, match="unmerged MoR deltas"):
        export_symlink_manifest(t)
    t.compact()
    paths2 = read_manifest_paths(export_symlink_manifest(t))
    got2 = con.execute(
        "select v from read_parquet(?) where k = 5", [paths2]
    ).fetchall()
    assert got2 == [("newer",)]


def test_symlink_manifest_percent_encodes_uris(tmp_path):
    """Manifest lines are URIs: paths holding spaces/'%'/'#' must be
    percent-encoded for the external consumers (Hive/Athena parse each
    line as a URI; Delta's GENERATE encodes the same way), and the
    reader decodes back to plain paths."""
    from sqoop_spark.lake.symlink_export import (
        export_symlink_manifest,
        read_manifest_paths,
    )

    base = tmp_path / "with space #1"
    (base / "data").mkdir(parents=True)
    data = base / "data" / "part 1%.parquet"
    data.write_bytes(b"x")

    class Stub:
        path = str(base)

        @staticmethod
        def manifest(version=None):
            return {"files": [{"path": "data/part 1%.parquet"}]}

    mf = export_symlink_manifest(Stub, dest=str(tmp_path / "out"))
    line = open(mf).read().strip()
    assert line.startswith("file:///")
    assert " " not in line and "#" not in line and "%20" in line
    paths = read_manifest_paths(mf)
    assert paths == [str(data)]
    assert os.path.isfile(paths[0])


def test_export_cli(spark, scratch):
    t = _table(spark, scratch, "ice5", n=30)
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "maintain",
         "--path", t.path, "--export-iceberg", "--export-symlink"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout.strip().splitlines()[-1])
    md = out["iceberg"]["metadata"]
    assert os.path.isfile(md)
    assert sum(f["record_count"] for f in read_data_files(md)) == 30
    from sqoop_spark.lake.symlink_export import read_manifest_paths

    mf = out["symlink_manifest"]["manifest"]
    assert os.path.isfile(mf) and read_manifest_paths(mf)
