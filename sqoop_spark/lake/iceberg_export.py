"""Iceberg v2 metadata export: make a lake snapshot ecosystem-readable.

The reference's outputs were always readable by the rest of the Hadoop
ecosystem — plain HDFS files, Hive tables (``hive/TableDefWriter.java:119``),
HCatalog (``mapreduce/hcat/SqoopHCatUtilities.java:85``). This engine's
manifest format is engine-private JSON, so :func:`export_iceberg`
materializes the current (or any time-travel) snapshot as genuine
**Apache Iceberg v2 table metadata** — ``metadata.json`` + an Avro
manifest list + an Avro manifest, all written against the public Iceberg
Table Spec — pointing at the table's EXISTING parquet data files
(metadata-only: zero bytes of data are copied). Any Iceberg reader
(Spark+iceberg-runtime, Trino, DuckDB ``iceberg_scan``, pyiceberg) can
then open the export.

Layout (HadoopTables file-system catalog convention)::

    <dest>/metadata/v1.metadata.json
    <dest>/metadata/version-hint.text          ("1")
    <dest>/metadata/snap-<id>-manifest-list.avro
    <dest>/metadata/<uuid>-m0.avro

Spec-compliance notes (Iceberg Table Spec, format-version 2):

- data files are listed with required fields only (``content``,
  ``file_path``, ``file_format``, ``partition``, ``record_count``,
  ``file_size_in_bytes``); per-column bounds/counts are OPTIONAL in the
  spec and omitted — readers scan every listed file, which is sound.
- the table is exported UNPARTITIONED (``spec-id`` 0, no fields): the
  engine's bucket layout hashes with ``xxhash64`` while Iceberg's
  ``bucket[N]`` transform mandates murmur3, so declaring a bucket
  partition spec would let readers prune files wrongly. Unpartitioned
  metadata trades pruning for correctness.
- timestamps are written by the engine as TIMESTAMP_MICROS int64 parquet
  (never INT96, which Iceberg forbids — see session.py); a snapshot that
  still references INT96 files is refused, one footer checked per write.
- MoR state must be compacted first: Iceberg v2 delete files use
  position/equality-delete semantics this engine's order-column
  resolution does not map onto; :func:`export_iceberg` raises on
  unmerged deltas instead of exporting a wrong state.

This environment ships no Iceberg reader (pyspark 4.1.2 has no
iceberg-runtime jar, DuckDB's iceberg extension cannot be downloaded), so
the round-trip verification reads the export back through
:func:`read_data_files` — over the one schema-driven Avro codec and
container reader/writer in ``avro_container.py`` (pytest-pinned against
the Avro spec and byte-pinned on the Sqoop export) — and value-hash-
compares the files it lists against the live table (contract query
``iceberg_export_roundtrip``).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq

from sqoop_spark.avro_container import read_avro, write_avro
from sqoop_spark.errors import EngineError

# ---------------------------------------------------------------------------
# engine schema (DDL strings + column ids) -> Iceberg schema JSON
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "boolean": "boolean",
    "int": "int",
    "integer": "int",
    "smallint": "int",
    "tinyint": "int",
    "bigint": "long",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    # Spark TimestampType is written as TIMESTAMP_MICROS with
    # isAdjustedToUTC=true — Iceberg's 'timestamptz'. Declaring it
    # 'timestamp' (zoneless) would make a spec-conformant reader reject
    # the files or shift every instant by the session zone.
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _iceberg_type(ddl: str) -> str:
    t = ddl.strip().lower()
    if t in _PRIMITIVES:
        return _PRIMITIVES[t]
    if t.startswith("decimal"):
        inner = t[t.index("(") + 1 : t.index(")")]
        p, s = (int(x) for x in inner.split(","))
        return f"decimal({p}, {s})"
    raise EngineError(
        f"export_iceberg: no Iceberg mapping for column type {ddl!r}"
    )


def iceberg_schema(manifest: dict) -> dict:
    """The engine schema as Iceberg schema JSON. Column ids carry over
    verbatim (both systems use append-only field ids for evolution); key
    columns are ``required`` (non-null by the engine's merge contract)
    and become the identifier fields."""
    keys = set(manifest["key_columns"])
    fields = [
        {
            "id": f["id"],
            "name": f["name"],
            "required": f["name"] in keys,
            "type": _iceberg_type(f["type"]),
        }
        for f in manifest["schema"]["fields"]
    ]
    key_ids = [
        f["id"] for f in manifest["schema"]["fields"] if f["name"] in keys
    ]
    return {
        "type": "struct",
        "schema-id": 0,
        "identifier-field-ids": key_ids,
        "fields": fields,
    }


# ---------------------------------------------------------------------------
# Iceberg manifest schemas (Table Spec, "Manifests" / "Manifest Lists"
# tables; field ids from the spec are carried as field-id properties)
# ---------------------------------------------------------------------------

_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


# ---------------------------------------------------------------------------
# export + readback
# ---------------------------------------------------------------------------


def _refuse_int96(table, manifest: dict, entries: list[dict]) -> None:
    """Raise if a timestamp-bearing snapshot references INT96 parquet —
    tables written before lake writes pinned TIMESTAMP_MICROS, or under a
    foreign session conf, may hold it, and the Iceberg spec forbids it.
    Every file of one write (its ``data/<uuid>`` directory) shares one
    physical schema, so one footer per file set decides."""
    if not any(
        _PRIMITIVES.get(f["type"].strip().lower(), "").startswith("timestamp")
        for f in manifest["schema"]["fields"]
    ):
        return
    seen: set[str] = set()
    for e in entries:
        file_set = os.path.join(*e["path"].split(os.sep)[:2])
        if file_set in seen:
            continue
        seen.add(file_set)
        schema = pq.read_metadata(os.path.join(table.path, e["path"])).schema
        if any(
            schema.column(i).physical_type == "INT96" for i in range(len(schema))
        ):
            raise EngineError(
                f"export_iceberg: {file_set} stores INT96 timestamps, which "
                "Iceberg forbids; rewrite the base files first "
                "(rewrite_clustered() writes TIMESTAMP_MICROS)"
            )


def export_iceberg(table, dest: str | None = None, version: int | None = None) -> str:
    """Write Iceberg v2 metadata for ``table``'s snapshot at ``version``
    (default: current) under ``dest`` (default: ``<table>/iceberg``).
    Returns the path of the written ``metadata.json``. Metadata-only: the
    manifest points at the table's existing parquet files by absolute
    path."""
    m = table.manifest(version)
    dest = dest or os.path.join(table.path, "iceberg")
    entries = [e for e in m["files"] if not e.get("tombstone")]
    if any(e.get("delta") for e in entries):
        raise EngineError(
            "export_iceberg: snapshot has unmerged MoR deltas — Iceberg v2 "
            "delete-file semantics do not express order-column resolution; "
            "run compact() first"
        )
    _refuse_int96(table, m, entries)
    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    snapshot_id = int(m["version"]) + 1  # any stable positive id
    seq = 1
    now_ms = int(time.time() * 1000)

    # manifest file: one entry per live data file
    records = []
    total_rows = 0
    for e in entries:
        full = os.path.join(table.path, e["path"])
        records.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": os.path.abspath(full),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": int(e["rows"]),
                    "file_size_in_bytes": os.path.getsize(full),
                },
            }
        )
        total_rows += int(e["rows"])
    schema_json = json.dumps(iceberg_schema(m))
    manifest_path = os.path.join(meta_dir, f"{uuid.uuid4().hex}-m0.avro")
    write_avro(
        manifest_path,
        _MANIFEST_ENTRY_SCHEMA,
        records,
        meta={
            "schema": schema_json,
            "schema-id": "0",
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # manifest list: one manifest
    mlist_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    write_avro(
        mlist_path,
        _MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": os.path.abspath(manifest_path),
                "manifest_length": os.path.getsize(manifest_path),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(records),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": total_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        meta={"format-version": "2", "snapshot-id": str(snapshot_id)},
    )

    doc = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, table.path)),
        "location": os.path.abspath(dest),
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": max(
            f["id"] for f in m["schema"]["fields"]
        ),
        "current-schema-id": 0,
        "schemas": [json.loads(schema_json)],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        # Iceberg properties are string -> string by spec
        "properties": {
            **{
                str(k): str(v)
                for k, v in (m.get("properties") or {}).items()
                if v is not None
            },
            # Spark-written parquet carries no Iceberg field-id
            # attributes; the name mapping (Iceberg spec "Column
            # Projection" / name-mapping serialization) tells readers
            # how to resolve columns by name — without it pyiceberg and
            # friends either error or project all-NULL columns
            "schema.name-mapping.default": json.dumps(
                [
                    {"field-id": f["id"], "names": [f["name"]]}
                    for f in m["schema"]["fields"]
                ]
            ),
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": os.path.abspath(mlist_path),
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(records)),
                    "added-records": str(total_rows),
                },
                "schema-id": 0,
            }
        ],
        "snapshot-log": [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ],
        "metadata-log": [],
    }
    md_path = os.path.join(meta_dir, "v1.metadata.json")
    with open(md_path, "w") as f:
        json.dump(doc, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")
    return md_path


def read_data_files(metadata_json_path: str) -> list[dict]:
    """Resolve an exported table to its data files the way an Iceberg
    reader does: metadata.json → current snapshot → manifest list →
    manifest entries. Returns the ``data_file`` dicts of live entries."""
    with open(metadata_json_path) as f:
        doc = json.load(f)
    snap = next(
        s
        for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    _, _, manifests = read_avro(snap["manifest-list"])
    files: list[dict] = []
    for mf in manifests:
        _, _, entries = read_avro(mf["manifest_path"])
        for e in entries:
            if e["status"] != 2:  # not DELETED
                files.append(e["data_file"])
    return files
