"""Snapshot-manifest lake tables (mini-Iceberg).

Layout::

    <table>/
      _manifests/
        v00000001.json     — one immutable manifest per snapshot
      data/
        <uuid>/_bucket=K/part-*.zstd.parquet

Commit protocol: a writer prepares data files under a fresh uuid dir, then
creates ``v{N+1}.json`` with an exclusive hard link. The exclusive create
is the atomic commit point (optimistic concurrency — mirrors Iceberg's
catalog swap); losers raise ``ConcurrentCommitError``; the current version
is the highest manifest in the directory. This replaces both Sqoop's
temp-dir rename dance after merge (reference: tool/ImportTool.java:448-505)
and its staging-table export protocol (mapreduce/ExportJobBase.java:341-478)
with a single atomic metadata swap.

Exactly-once: each manifest carries the cumulative set of fenced batch ids;
re-applying a batch whose id is fenced is a no-op (the idempotence upgrade
over Sqoop's non-atomic ``incremental.last.value`` save,
metastore/GenericJobStorage.java:634-657).

Scale notes (100 TB): data files are hash-bucketed on the merge key, so a
merge-apply only reads and rewrites the buckets containing changed keys —
untouched files are carried forward by reference in the new manifest
(copy-on-write at bucket granularity, the same shape as Iceberg CoW at
file granularity). ``num_buckets`` should scale with table size (32 in
tests; thousands on a real cluster).
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid
from dataclasses import dataclass
from typing import Any, Callable, Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from sqoop_spark.errors import (
    ConcurrentCommitError,
    EngineError,
    IncompatibleSchemaError,
)

FORMAT_VERSION = 1
_BUCKET_DIR_RE = re.compile(r"_bucket=(\d+)")
_WAP_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _json_stat(v):
    """A zone-map bound in its JSON-comparable form, or None if the type
    has no order-preserving JSON encoding (then no stat is recorded and
    pruning fails open). ISO-8601 keeps timestamp ordering under string
    comparison; bools/bytes/decimals are skipped."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return None


def _footer_column_stats(meta, wanted: list[str]) -> dict[str, list]:
    """Per-file min/max for ``wanted`` columns from parquet row-group
    footers — the metadata Iceberg keeps as manifest column bounds. A
    column gets a stat only if EVERY row group has usable min/max (a
    single opaque group would make the bound a lie)."""
    if not wanted or meta.num_row_groups == 0:
        return {}
    rg0 = meta.row_group(0)
    idx = {
        rg0.column(j).path_in_schema: j
        for j in range(rg0.num_columns)
        if rg0.column(j).path_in_schema in set(wanted)
    }
    out: dict[str, list] = {}
    for name, j in idx.items():
        lo = hi = None
        ok = True
        for i in range(meta.num_row_groups):
            st = meta.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            try:
                mn, mx = _json_stat(st.min), _json_stat(st.max)
            except pa.ArrowNotImplementedError:
                # pyarrow cannot decode some logical types' bounds (e.g.
                # decimal stored as INT64) — no stat, prune fails open
                mn = mx = None
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            out[name] = [lo, hi]
    return out


def _column_map(
    current: list[dict], written: dict[str, str]
) -> list[tuple[dict, str | None]]:
    """The one schema-evolution mapping of a data file to the snapshot's
    schema, shared by the Spark reader (:meth:`LakeTable._read_files`)
    and the driver-side point read (:meth:`LakeTable.lookup`): for each
    current field (manifest ``{"id", "name", "type"}``), the name the
    file wrote it under — matched by column id from the entry's
    ``columns`` map, so renames resolve and dropped columns never appear
    — or None when the file predates the column (read as NULL). Readers
    cast the written column to the current type, which is how a widened
    column reads."""
    by_id = {int(k): v for k, v in written.items()}
    return [(f, by_id.get(f["id"])) for f in current]


@dataclass
class SnapshotInfo:
    version: int
    operation: str
    summary: dict[str, Any]
    total_rows: int
    num_files: int


@functools.lru_cache(maxsize=None)
def _type_from_ddl(ddl: str) -> T.DataType:
    # one py4j parse per distinct DDL string, not per field per schema()
    # call; callers never mutate the returned (shared) types
    return T._parse_datatype_string(ddl)


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned 64-bit in, unsigned out) —
    the function behind Spark's ``xxhash64``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = _xxh64_round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def driver_bucket(
    values: list, types: list[T.DataType], num_buckets: int
) -> int | None:
    """``pmod(xxhash64(keys), num_buckets)`` — the writer's bucket
    expression (:meth:`LakeTable.bucket_expr`) — in pure Python: seed 42,
    chained column by column; a string hashes its UTF-8 bytes (of
    ``str(value)``, the same text the JVM cast would see), a byte, short
    or int its 4 little-endian bytes, a long its 8. ``None`` when some
    column is neither a binary-collated string nor an integral column
    holding a Python int in range: the caller must ask the JVM."""
    h = 42
    for v, dt in zip(values, types):
        bits = _INT_BITS.get(type(dt))
        if isinstance(dt, T.StringType) and dt.collation == "UTF8_BINARY":
            data = str(v).encode("utf-8")
        elif (
            bits
            and isinstance(v, int)
            and not isinstance(v, bool)
            and -(1 << bits - 1) <= v < 1 << bits - 1
        ):
            width = 8 if bits == 64 else 4
            data = (v & (1 << 8 * width) - 1).to_bytes(width, "little")
        else:
            return None
        h = _xxh64(data, h)
    signed = h - (1 << 64) if h >> 63 else h
    return signed % num_buckets


class LakeTable:
    """A snapshot-versioned, bucket-partitioned parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.manifest_dir = os.path.join(self.path, "_manifests")
        self.data_dir = os.path.join(self.path, "data")
        self._manifest_cache: dict[int, dict] = {}

    # -- creation / loading -------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: list[str],
        num_buckets: int = 32,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        t = cls(spark, path)
        if os.path.exists(t.manifest_dir) and os.listdir(t.manifest_dir):
            raise EngineError(f"table already exists at {path}")
        os.makedirs(t.manifest_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        for k in key_columns:
            if k not in schema.fieldNames():
                raise EngineError(f"key column {k} not in schema")
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
            for i, f in enumerate(schema.fields)
        ]
        manifest = {
            "format_version": FORMAT_VERSION,
            "version": 1,
            "parent": None,
            "operation": "create",
            "schema": {"fields": fields, "next_id": len(fields) + 1},
            "key_columns": list(key_columns),
            "num_buckets": num_buckets,
            "properties": properties or {},
            "files": [],
            "summary": {},
            "fenced_batch_ids": [],
            "lineage": None,
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_version() is None:
            raise EngineError(f"no lake table at {path}")
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        d = os.path.join(os.path.abspath(path), "_manifests")
        return os.path.isdir(d) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(d)
        )

    # -- manifest plumbing ---------------------------------------------------

    def current_version(self) -> int | None:
        if not os.path.isdir(self.manifest_dir):
            return None
        versions = [
            int(f[1:-5])
            for f in os.listdir(self.manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def manifest_exists(self, version: int) -> bool:
        """True when ``version``'s manifest is still on disk (or cached) —
        False for never-committed or expire_snapshots-removed versions."""
        return version in self._manifest_cache or os.path.exists(
            os.path.join(self.manifest_dir, f"v{version:08d}.json")
        )

    def manifest(self, version: int | None = None) -> dict:
        v = version if version is not None else self.current_version()
        if v is None:
            raise EngineError(f"no lake table at {self.path}")
        if v not in self._manifest_cache:
            with open(os.path.join(self.manifest_dir, f"v{v:08d}.json")) as f:
                self._manifest_cache[v] = json.load(f)
        return self._manifest_cache[v]

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        target = os.path.join(self.manifest_dir, f"v{v:08d}.json")
        tmp = target + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, separators=(",", ":"))
        try:
            # Atomic commit point: exclusive link of the version file.
            os.link(tmp, target)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot v{v} already committed by another writer"
            ) from None
        finally:
            os.unlink(tmp)
        self._manifest_cache[v] = manifest

    # -- schema --------------------------------------------------------------

    def schema(self, version: int | None = None) -> T.StructType:
        m = self.manifest(version)
        return T.StructType(
            [
                T.StructField(f["name"], _type_from_ddl(f["type"]))
                for f in m["schema"]["fields"]
            ]
        )

    @property
    def key_columns(self) -> list[str]:
        return list(self.manifest()["key_columns"])

    @property
    def num_buckets(self) -> int:
        return self.manifest()["num_buckets"]

    def bucket_expr(self) -> F.Column:
        """Deterministic bucket of the merge key: pmod(xxhash64(keys), B).

        The Spark-native analog of the reference's split-by partitioning
        (mapreduce/db/DataDrivenDBInputFormat.java:140-254): instead of
        lexicographic ranges over text keys (TextSplitter.java:39-251, which
        skews on hot prefixes), keys are hash-distributed.
        """
        keys = [F.col(c) for c in self.key_columns]
        return F.pmod(F.xxhash64(*keys), F.lit(self.num_buckets)).cast("int")

    # -- fencing ---------------------------------------------------------------

    def fenced_batch_ids(self) -> set[int]:
        return set(self.manifest()["fenced_batch_ids"])

    def is_fenced(self, batch_id: int) -> bool:
        return batch_id in self.fenced_batch_ids()

    # -- reads -----------------------------------------------------------------

    def _read_files(
        self,
        entries: list[dict],
        version: int | None = None,
        with_op: bool = False,
    ) -> DataFrame:
        """Read manifest file entries, reconciling per-file written schemas.

        Files are grouped by their written-column signature; each group is
        read in one call, then projected to the current schema via the
        column-id mapping (renames resolve, dropped columns vanish, added
        columns backfill as NULL — Iceberg schema-evolution semantics).

        ``with_op=True`` additionally surfaces the merge-on-read op column:
        delta files carry a physical ``_op``; base files read as 'upsert'.
        """
        m = self.manifest(version)
        current = m["schema"]["fields"]
        empty_schema = self.schema(version)
        if with_op:
            empty_schema = T.StructType(
                empty_schema.fields + [T.StructField("_op", T.StringType())]
            )
        if not entries:
            return self.spark.createDataFrame([], empty_schema)
        groups: dict[str, list[dict]] = {}
        for e in entries:
            sig = json.dumps(
                {"c": e["columns"], "d": bool(e.get("delta"))}, sort_keys=True
            )
            groups.setdefault(sig, []).append(e)
        parts = []
        for sig, group in groups.items():
            cols = _column_map(current, group[0]["columns"])
            is_delta = bool(group[0].get("delta"))
            paths = [os.path.join(self.path, e["path"]) for e in group]
            # Explicit read schema under the WRITTEN names with the CURRENT
            # declared types: dropped columns never leave the footer, and a
            # widened column (widen_column int->long / float->double) reads
            # promoted by the parquet reader itself — files written before
            # and after the promotion coexist in one group (the signature
            # tracks names, not widths), where footer inference would pick
            # whichever generation it sampled first and crash on the other.
            read_fields = [
                T.StructField(w, _type_from_ddl(f["type"]))
                for f, w in cols
                if w is not None
            ]
            if is_delta:
                read_fields.append(T.StructField("_op", T.StringType()))
            raw = self.spark.read.schema(T.StructType(read_fields)).parquet(
                *paths
            )
            proj = [
                (F.col(w) if w is not None else F.lit(None))
                .cast(f["type"])
                .alias(f["name"])
                for f, w in cols
            ]
            if with_op:
                proj.append(F.col("_op") if is_delta else F.lit("upsert").alias("_op"))
            parts.append(raw.select(*proj))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    @property
    def order_column(self) -> str:
        return self.manifest().get("properties", {}).get("order_column", "event_seq")

    def stats_columns(self) -> list[str]:
        """Columns whose per-file min/max zone maps are recorded on write.

        Defaults to the order column: the watermark axis is what incremental
        consumers prune on. Override with the ``stats_columns`` table
        property (comma-separated). Only columns actually present in a
        written file get stats; absent stats never prune (fail-open)."""
        prop = self.manifest().get("properties", {}).get("stats_columns")
        if prop:
            return [c.strip() for c in prop.split(",") if c.strip()]
        return [self.order_column]

    def bloom_columns(self) -> list[str]:
        """Columns that get a per-file bloom-filter sidecar on write (the
        ``bloom_columns`` table property, comma-separated) — equality/IN
        pruning for high-cardinality values zone maps can't help with
        (lake/bloom.py). Empty by default: blooms cost a column re-read
        per written file, so they are opt-in."""
        prop = self.manifest().get("properties", {}).get("bloom_columns")
        if not prop:
            return []
        return [c.strip() for c in prop.split(",") if c.strip()]

    def set_properties(self, updates: dict, batch_id: int | None = None) -> dict:
        """Metadata-only commit updating table properties (Iceberg
        ``ALTER TABLE ... SET TBLPROPERTIES``): same files, same schema,
        new properties dict. A value of None DELETES the property.
        Changelog consumers skip the commit (its row diff is empty by
        construction); subsequent WRITES honor the new properties —
        e.g. setting ``bloom_columns`` makes every later rewrite/append
        build sidecars, and a ``rewrite_small_files``/``compact``/
        ``rewrite_clustered`` pass backfills them for existing data."""
        base = self.manifest()
        props = dict(base.get("properties", {}))
        for k, v in updates.items():
            if v is None:
                props.pop(k, None)
            else:
                props[k] = v
        return self._commit(
            "set-properties",
            base["files"],
            batch_id,
            {"properties_updated": sorted(updates)},
            None,
            base=base,
            properties=props,
        )

    def _resolve_winners(self, df_with_op: DataFrame) -> DataFrame:
        """Newest event per key — ``_op`` retained (winning deletes kept).

        One window over the pinned total order; ties between an upsert and
        a delete at the same order value go to the upsert (``_op`` desc),
        matching the CoW stale-delete rule in cdc/merge.py."""
        from pyspark.sql import Window

        order = self.order_column
        w = Window.partitionBy(*self.key_columns).orderBy(
            F.col(order).desc(), F.col("_op").desc()
        )
        return (
            df_with_op.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _resolve(self, df_with_op: DataFrame) -> DataFrame:
        """Merge-on-read resolution: newest event per key wins; a winning
        delete removes the key. One window over the pinned total order —
        the read-side half of the MoR contract (write side: append_delta)."""
        return (
            self._resolve_winners(df_with_op)
            .filter(F.col("_op") != "delete")
            .drop("_op")
        )

    def _entries(self, version: int | None = None, buckets: Iterable[int] | None = None):
        entries = self.manifest(version)["files"]
        if buckets is not None:
            bs = set(buckets)
            entries = [e for e in entries if e["bucket"] in bs]
        return entries

    @staticmethod
    def _resolve_buckets(entries: list[dict]) -> set[int]:
        """Buckets that genuinely need key-resolution: those holding
        NON-tombstone delta files. A tombstone-only bucket reads as plain
        base — compaction wrote its base files delete-applied, and a
        retained tombstone's key can only re-enter the bucket through a new
        delta (append_delta / the MoR merge flows), which puts the bucket
        back in this set. Resolving a tombstone-only bucket is an identity
        shuffle; at steady state (fully compacted MoR table with retained
        tombstones) skipping it makes the logical read a PLAIN SCAN. (Blind
        base-append of an already-live key into a merge table is undefined
        on merge tables generally — it duplicates base keys — not a
        tombstone-specific caveat.)"""
        return {
            e["bucket"]
            for e in entries
            if e.get("delta") and not e.get("tombstone")
        }

    def read(self, version: int | None = None) -> DataFrame:
        """Logical table state (MoR deltas resolved when present —
        per-bucket: only buckets holding unmerged non-tombstone deltas pay
        the resolve; the rest scan plain)."""
        return self._read_state(version, None)

    def read_buckets(self, buckets: Iterable[int]) -> DataFrame:
        """Bucket-pruned logical read: only files whose bucket is in
        ``buckets``, MoR deltas resolved.

        This is the file-skipping that keeps merge-apply sub-linear in table
        size — the analog of Iceberg partition pruning on a bucket transform.
        """
        return self._read_state(None, set(buckets))

    def _session_tz(self) -> str:
        """The session time zone Spark reads a string literal on a
        TIMESTAMP column in — what zone-map pruning must read it in too."""
        return self.spark.conf.get("spark.sql.session.timeZone")

    def prune_entries(
        self, entries: list[dict], column: str, lower=None, upper=None
    ) -> list[dict]:
        """Zone-map file skipping: keep only entries whose recorded
        ``[min, max]`` for ``column`` can intersect the half-open watermark
        interval ``(lower, upper]`` — the append-incremental contract
        (check_col > last_value AND check_col <= MAX,
        reference tool/ImportTool.java:316-333). Entries with no stat for
        the column are kept (fail-open): absence of metadata must never
        drop data. String watermarks probing a timestamp/date column are
        canonicalized to the stored isoformat bound encoding (same rule
        as scan — see lake/pruning.py); an unparseable one contributes
        no bound (fail-open) while the caller's in-plan typed filter
        still applies it."""

        from sqoop_spark.lake.pruning import _MISSING, canon_literal

        def _bound(v):
            try:
                dtype = self.schema()[column].dataType
            except Exception:
                return _json_stat(v)
            jv = canon_literal(v, dtype, self._session_tz())
            return _json_stat(v) if jv is _MISSING else jv

        lo, hi = _bound(lower), _bound(upper)

        def keep(e: dict) -> bool:
            st = (e.get("stats") or {}).get(column)
            if not st:
                return True
            mn, mx = st
            if lo is not None and mx <= lo:
                return False
            if hi is not None and mn > hi:
                return False
            return True

        return [e for e in entries if keep(e)]

    def read_since(
        self, column: str, last_value, upper=None, version: int | None = None
    ) -> DataFrame:
        """Incremental consumer read: rows with ``column`` in
        ``(last_value, upper]``, skipping whole files via the zone maps
        recorded at write time.

        This is the downstream half of the CDC contract: an append-mode
        table's commits each cover a tight watermark range, so a reader
        resuming from a saved watermark opens only the files written since
        — O(new data), not O(table). At 100 TB this is the difference
        between an incremental sync and a full scan. (On hash-bucketed
        merge tables every file spans the whole order range, so zone maps
        cannot prune there.)

        Unmerged MoR deltas are handled at BUCKET granularity: a delta
        file can rewrite or delete keys anywhere in its bucket, so that
        bucket must be key-resolved whole before the watermark filter —
        but ONLY that bucket. Delta-free buckets keep the zone-map file
        skip. A lagging compactor therefore costs O(delta buckets), not
        O(table): the incremental consumer never degrades to a full
        resolve just because one bucket has a pending delta. Retained
        tombstone files (compact's delete markers) don't count as
        unmerged deltas — their buckets' base files are already
        delete-applied (see ``_resolve_buckets``), so the steady-state
        compacted MoR table keeps full zone-map pruning."""
        from sqoop_spark.cdc.watermark import typed_lit

        if column not in self.schema(version).fieldNames():
            raise EngineError(f"read_since: no column {column!r} in table schema")
        dtype = self.schema(version)[column].dataType
        pred = F.lit(True)
        if last_value is not None:
            pred = F.col(column) > typed_lit(last_value, dtype)
        if upper is not None:
            pred = pred & (F.col(column) <= typed_lit(upper, dtype))
        entries = self._entries(version)
        delta_buckets = self._resolve_buckets(entries)
        clean = [
            e
            for e in entries
            if e["bucket"] not in delta_buckets and not e.get("tombstone")
        ]
        pruned = self.prune_entries(clean, column, lower=last_value, upper=upper)
        out = self._read_files(pruned, version).filter(pred)
        if delta_buckets:
            out = out.unionByName(
                self._read_state(version, delta_buckets).filter(pred)
            )
        return out

    def bucket_of(self, key: dict, version: int | None = None) -> int:
        """The bucket a full key tuple hashes to under the writer's
        expression ``pmod(xxhash64(cast(str(v) AS type)), B)``, with the
        key columns, schema and ``B`` of snapshot ``version`` (default:
        current) — a rebucketed table's older snapshots keep their own
        layout. String and in-range integral keys hash on the driver
        (:func:`driver_bucket`, no Spark job); any other key type is one
        JVM literal projection over ``spark.range(1)`` with the same cast
        — no table scan either way."""
        return self._key_probe(key, version, literals=False)[0]

    def _key_probe(
        self, key: dict, version: int | None, literals: bool = True
    ) -> tuple[int, list[pa.Scalar]]:
        """``(bucket, literals)`` of a full key tuple under snapshot
        ``version``: the :meth:`bucket_of` bucket and, per key column, the
        key value as an Arrow scalar of the column's type — what the
        driver-side read of :meth:`lookup` compares against. A ``str`` on
        a string column and an in-range ``int`` on an integral column are
        taken as they are; any other value or key type (a CLI string on
        an int or date key, a date, a decimal) comes back cast by the same
        one-job JVM projection that hashes it, so the compared value is
        exactly the one that was hashed."""
        m = self.manifest(version)
        schema = self.schema(m["version"])
        types = [schema[c].dataType for c in m["key_columns"]]
        vals = [key[c] for c in m["key_columns"]]
        nb = m["num_buckets"]
        b = driver_bucket(vals, types, nb)
        if b is not None and not literals:
            return b, []
        if b is not None and all(
            isinstance(v, str) == isinstance(t, T.StringType)
            for v, t in zip(vals, types)
        ):
            return b, [pa.scalar(v, to_arrow_type(t)) for v, t in zip(vals, types)]
        keys = [
            F.lit(str(v)).cast(t).alias(f"k{i}")
            for i, (v, t) in enumerate(zip(vals, types))
        ]
        row = self.spark.range(1).select(
            F.pmod(F.xxhash64(*keys), F.lit(nb)).cast("int"), *keys
        ).toArrow()
        return row.column(0)[0].as_py(), [
            row.column(i + 1)[0].cast(to_arrow_type(t))
            for i, t in enumerate(types)
        ]

    def lookup_entries(self, key: dict, version: int | None = None) -> list[dict]:
        """The manifest entries :meth:`lookup` opens for ``key`` — its
        pruning half on its own, for file-skip checks and operators
        (``lookup`` returns a driver-built frame, which lists no input
        files)."""
        return self._lookup_prune(key, self.manifest(version))[1]

    def _lookup_prune(
        self, key: dict, m: dict
    ) -> tuple[list[pa.Scalar], list[dict]]:
        """Key literals and the entries of manifest ``m`` a point read of
        ``key`` must open: the key's ONE bucket, minus files whose key zone
        maps or key blooms exclude it, minus tombstone files unless a
        non-tombstone delta survives (then the bucket resolves, and a
        retained delete marker takes part)."""
        keys = m["key_columns"]
        if set(key) != set(keys):
            raise EngineError(
                f"lookup: need exactly the key columns {keys}, got {sorted(key)}"
            )
        if any(v is None for v in key.values()):
            raise EngineError("lookup: NULL key values never match (keys are non-null)")
        bucket, lits = self._key_probe(key, m["version"])
        # zone-map bounds from the cast key, decoded by pyarrow exactly as
        # the footer stats were (a timestamp bound carries its UTC offset)
        bounds = {c: _json_stat(lit.as_py()) for c, lit in zip(keys, lits)}

        def keep(e: dict) -> bool:
            for c, jv in bounds.items():
                st = (e.get("stats") or {}).get(c)
                if not st or jv is None:
                    continue  # fail-open
                mn, mx = st
                if jv < mn or jv > mx:
                    return False
            return True

        bloom_cache: dict[str, dict | None] = {}
        key_terms = [(c, "=", [v]) for c, v in key.items()]
        pruned = [
            e
            for e in m["files"]
            if e["bucket"] == bucket
            and keep(e)
            and not self._bloom_excludes(e, key_terms, bloom_cache)
        ]
        if not self._resolve_buckets(pruned):
            pruned = [e for e in pruned if not e.get("tombstone")]
        return lits, pruned

    def lookup(self, key: dict, version: int | None = None) -> DataFrame:
        """Point read of one key: rows of the logical state whose key
        columns equal ``key`` — O(1 bucket, few files), never O(table),
        and no Spark job.

        Two prunes before any data IO (:meth:`lookup_entries`): the key
        hashes to exactly ONE bucket (the Iceberg bucket-transform
        partition prune), and within it the per-file key zone maps and
        key blooms recorded at write time skip files that cannot contain
        the value (conjunctive over every key column; fail-open where a
        stat is absent). The driver then reads the surviving files with
        pyarrow: key columns first, the other columns only from the row
        groups that hold the key, mapped to the snapshot's schema by
        column id (:func:`_column_map`). When a non-tombstone delta
        survives, newest-wins resolves on the driver with the rule of
        :meth:`_resolve_winners` (highest order value, NULLs last, ties to
        ``_op`` descending) and a winning delete returns no row; pruning
        keeps this correct, since a pruned delta's bounds exclude the key.
        A plain bucket returns every matching row. At 100 TB this is the
        GDPR subject-access / upsert-verification path: one hash, a few
        footer-bounded files. String and integral keys compare as given;
        other keys are cast by the one JVM projection that hashes them
        (:meth:`_key_probe`). The rows come back as a DataFrame built from
        the Arrow table, which starts no job to build or collect."""
        m = self.manifest(version)
        lits, entries = self._lookup_prune(key, m)
        schema = self.schema(m["version"])
        target = to_arrow_schema(schema)
        resolve = bool(self._resolve_buckets(entries))
        if resolve:
            target = target.append(pa.field("_op", pa.string()))
        parts = [
            t
            for e in entries
            for t in self._key_rows(e, m, lits, target, resolve)
        ]
        rows = pa.concat_tables(parts) if parts else target.empty_table()
        if resolve:
            top = rows.sort_by(
                [(self.order_column, "descending"), ("_op", "descending")]
            ).slice(0, 1)
            live = top.num_rows and top["_op"][0].as_py() not in (None, "delete")
            rows = (top if live else top.slice(0, 0)).drop_columns(["_op"])
        return self.spark.createDataFrame(rows, schema=schema)

    def _key_rows(
        self,
        e: dict,
        m: dict,
        lits: list[pa.Scalar],
        target: pa.Schema,
        with_op: bool,
    ) -> list[pa.Table]:
        """Rows of entry ``e`` whose key columns equal ``lits``, as Arrow
        tables of ``target`` (the snapshot's schema, plus ``_op`` when
        ``with_op``; base files read as 'upsert'). Reads the key columns
        of every row group and everything else only where a key matched."""
        cols = _column_map(m["schema"]["fields"], e["columns"])
        written = {f["name"]: w for f, w in cols}
        key_written = [written[c] for c in m["key_columns"]]
        read = [w for _, w in cols if w is not None]
        if with_op and e.get("delta"):
            read.append("_op")
        out = []
        with pq.ParquetFile(
            os.path.join(self.path, e["path"]), coerce_int96_timestamp_unit="us"
        ) as pf:
            for i in range(pf.num_row_groups):
                kt = pf.read_row_group(i, columns=key_written)
                mask = functools.reduce(pc.and_, [
                    pc.equal(kt.column(j).cast(lit.type), lit)
                    for j, lit in enumerate(lits)
                ])
                if not pc.any(mask).as_py():
                    continue
                rg = pf.read_row_group(i, columns=read).filter(mask)
                arrays = [
                    rg.column(w).cast(tf.type)
                    if w is not None
                    else pa.nulls(rg.num_rows, tf.type)
                    for (_, w), tf in zip(cols, target)
                ]
                if with_op:
                    arrays.append(
                        rg.column("_op").cast(pa.string())
                        if e.get("delta")
                        else pa.array(["upsert"] * rg.num_rows, pa.string())
                    )
                out.append(pa.Table.from_arrays(arrays, schema=target))
        return out

    def scan(self, where, version: int | None = None) -> DataFrame:
        """Predicate-pruned logical read: ``read().filter(where)`` with
        manifest-level file and bucket skipping derived from the predicate
        BEFORE any path is listed — the Iceberg manifest-bounds prune,
        generalizing :meth:`read_since` (order-column ranges) and
        :meth:`lookup` (full-key equality) to arbitrary conjunctive
        comparisons. At 100 TB the driver decides from a few KB of
        manifest which of millions of files a needle query touches; the
        executors never see the rest.

        Three prunes, each fail-open (see lake/pruning.py — an
        unparseable term, a top-level OR/NOT, a missing stat or a type
        mismatch simply prunes nothing; the predicate is always
        re-applied in-plan, so pruning can only skip provably-empty
        files, never change results):

        - **bucket**: equality terms covering EVERY key column hash to
          one bucket via the writer's own bucket expression;
        - **file**: a plain (delta-free) bucket's entries drop when a
          term's value set is disjoint from the file's recorded
          ``[min, max]`` (any stats column — key, order, or
          ``stats_columns``/clustered extras);
        - **delta bucket**: a bucket holding unmerged MoR deltas resolves
          WHOLE or drops WHOLE — per-file pruning is unsound there for
          non-key columns (a delta row's values say nothing about the
          base row it deletes or supersedes, and payload-free tombstones
          carry NULL non-keys), so only KEY-column terms may exclude it,
          and only when every one of the bucket's files is excluded
          (delete/upsert markers carry their keys, the same soundness
          argument as ``lookup``).

        ``where`` may be a Column (no pruning — Spark still pushes the
        filter to the parquet readers) or a SQL string (pruned)."""
        from sqoop_spark.lake.pruning import (
            entry_excluded,
            normalize_terms,
            parse_terms,
        )

        pred = F.expr(where) if isinstance(where, str) else where
        entries = self._entries(version)
        terms = (
            normalize_terms(
                parse_terms(where), self.schema(version), self._session_tz()
            )
            if isinstance(where, str)
            else []
        )
        if terms:
            eq = {c: v[0] for c, op, v in terms if op == "="}
            if all(c in eq and eq[c] is not None for c in self.key_columns):
                try:
                    b = self.bucket_of(
                        {c: eq[c] for c in self.key_columns}, version
                    )
                except Exception:
                    b = None  # uncastable literal — fail open
                if b is not None:
                    entries = [e for e in entries if e["bucket"] == b]
        rb = self._resolve_buckets(entries)
        key_terms = [t for t in terms if t[0] in self.key_columns]
        bloom_cache: dict[str, dict | None] = {}
        plain = [
            e
            for e in entries
            if e["bucket"] not in rb
            and not e.get("tombstone")
            and not entry_excluded(e.get("stats"), terms)
            and not self._bloom_excludes(e, terms, bloom_cache)
        ]
        out = self._read_files(plain, version).filter(pred)
        if rb:
            by_bucket: dict[int, list[dict]] = {}
            for e in entries:
                if e["bucket"] in rb:
                    by_bucket.setdefault(e["bucket"], []).append(e)
            # a delta bucket drops only when EVERY file is excluded by a
            # KEY term — via zone maps or (for equality/IN probes) the
            # per-file key blooms delta files now carry; both prunes are
            # sound because markers carry their keys
            keep = {
                b
                for b, es in by_bucket.items()
                if not all(
                    entry_excluded(e.get("stats"), key_terms)
                    or self._bloom_excludes(e, key_terms, bloom_cache)
                    for e in es
                )
            }
            if keep:
                out = out.unionByName(
                    self._read_state(version, keep).filter(pred)
                )
        return out

    def _bloom_excludes(
        self, e: dict, terms: list, cache: dict[str, dict | None]
    ) -> bool:
        """True iff some equality/IN term's values are ALL provably absent
        from the file per its bloom sidecar (lake/bloom.py). Fail-open on
        everything: no sidecar recorded, unreadable sidecar, stale canary
        (pandas hash drift), no descriptor for the column, uncoercible
        probe literal."""
        rel = e.get("bloom")
        if not rel:
            return False
        eq = [(c, vals) for c, op, vals in terms if op in ("=", "in")]
        if not eq:
            return False
        if rel not in cache:
            from sqoop_spark.lake.bloom import read_sidecar

            cache[rel] = read_sidecar(os.path.join(self.path, rel))
        cols = cache[rel]
        if not cols:
            return False
        from sqoop_spark.lake.bloom import might_contain

        for c, vals in eq:
            desc = cols.get(c)
            if not desc:
                continue
            if not any(might_contain(desc, v) for v in vals):
                return True
        return False

    def _read_state(self, version: int | None, buckets: set[int] | None) -> DataFrame:
        """Logical state of ``version`` restricted to ``buckets`` (all when
        None), MoR deltas resolved at BUCKET granularity: only buckets in
        ``_resolve_buckets`` (unmerged non-tombstone deltas) pay the
        key-resolution; every other bucket — including tombstone-only ones
        — scans its base files plain. The per-bucket unit of
        changes_between and the body of read/read_buckets."""
        return self._state_of_entries(self._entries(version, buckets=buckets), version)

    def _state_of_entries(
        self, entries: list[dict], version: int | None = None
    ) -> DataFrame:
        """Logical state of an explicit file-entry list (the body of
        :meth:`_read_state`, also used by :meth:`read_staged` to read a
        snapshot that is not committed yet: current entries + staged
        entries)."""
        rb = self._resolve_buckets(entries)
        plain = [
            e
            for e in entries
            if e["bucket"] not in rb and not e.get("tombstone")
        ]
        if not rb:
            return self._read_files(plain, version)
        need = [e for e in entries if e["bucket"] in rb]
        resolved = self._resolve(self._read_files(need, version, with_op=True))
        if not plain:
            return resolved
        return self._read_files(plain, version).unionByName(resolved)

    def changes_between(
        self,
        from_version: int,
        to_version: int | None = None,
        compare_cols: list[str] | None = None,
        pre_post: bool = False,
    ) -> DataFrame:
        """Snapshot changelog — the row-level diff between two committed
        snapshots as insert/update/delete change rows (Iceberg's changelog
        view; the outbound half of CDC: downstream consumers subscribe to
        "what changed between snapshot A and B" without replaying the
        event log).

        Returns the table columns (taken from the NEW state for insert/
        update, the OLD state for delete) plus ``_change``.

        Scale shape: keys are hash-bucketed and CoW rewrites whole
        buckets, so a bucket whose manifest file set is IDENTICAL in both
        versions cannot contain a changed key — those buckets are pruned
        from BOTH sides before the join (the manifest-diff analog of the
        zone-map skip: the diff costs O(changed buckets), not O(table)).
        The remaining states full-outer join hash-partitioned on the key;
        ``update`` means any ``compare_cols`` column differs null-safely
        (default: every non-key column).

        ``pre_post=True`` switches to Iceberg's changelog-view row shape:
        each update emits TWO rows — ``update_before`` (old values) and
        ``update_after`` (new values) — instead of one ``update`` row.
        That makes every aggregate delta a signed sum (insert /
        update_after contribute +, delete / update_before contribute −),
        the contract incremental materialized-view maintenance needs
        (lake/rollup.py). One plan either way: the pre/post pair rides a
        single explode over the same join, not a second diff."""
        to_v = to_version if to_version is not None else self.current_version()
        cur = self.current_version() or 0
        for v in (from_version, to_v):
            if not (1 <= v <= cur) or not self.manifest_exists(v):
                raise EngineError(
                    f"changes_between: version {v} not in [1, {cur}] "
                    "(expired or never committed)"
                )
        key_cols = self.key_columns

        def by_bucket(version: int) -> dict[int, tuple]:
            out: dict[int, list] = {}
            for e in self.manifest(version)["files"]:
                out.setdefault(e["bucket"], []).append(
                    (e["path"], bool(e.get("delta")))
                )
            return {b: tuple(sorted(v)) for b, v in out.items()}
        old_b, new_b = by_bucket(from_version), by_bucket(to_v)
        changed = {
            b
            for b in set(old_b) | set(new_b)
            if old_b.get(b) != new_b.get(b)
        }
        schema_cols = [f.name for f in self.schema(to_v).fields]
        if compare_cols is None:
            compare_cols = [c for c in schema_cols if c not in key_cols]
        if not changed:
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    self.schema(to_v).fields + [T.StructField("_change", T.StringType())]
                ),
            )
        old = self._read_state(from_version, changed)
        # Schema evolution between the versions: project the old state to
        # the NEW schema (added columns backfill NULL, dropped columns
        # vanish) so the diff always speaks the current schema — an added
        # column then reports as 'update' wherever the new state is
        # non-null, which is exactly the backfill a consumer must apply.
        for f in self.schema(to_v).fields:
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        old = old.select(*schema_cols).alias("o")
        new = self._read_state(to_v, changed).alias("n")
        cond = None
        for k in key_cols:
            p = F.col(f"o.{k}") == F.col(f"n.{k}")
            cond = p if cond is None else (cond & p)
        joined = old.join(new, cond, "full_outer")
        has_old = F.col(f"o.{key_cols[0]}").isNotNull()
        has_new = F.col(f"n.{key_cols[0]}").isNotNull()
        differs = F.lit(False)
        for c in compare_cols:
            differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        base = joined.filter(~has_old | ~has_new | differs)
        if not pre_post:
            change = (
                F.when(~has_old, F.lit("insert"))
                .when(~has_new, F.lit("delete"))
                .otherwise(F.lit("update"))
            )
            out_cols = [
                F.when(has_new, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
                for c in schema_cols
            ]
            return base.select(*out_cols, change.alias("_change"))
        old_struct = F.struct(*[F.col(f"o.{c}").alias(c) for c in schema_cols])
        new_struct = F.struct(*[F.col(f"n.{c}").alias(c) for c in schema_cols])
        rows = (
            F.when(
                ~has_old,
                F.array(
                    F.struct(F.lit("insert").alias("_change"), new_struct.alias("_row"))
                ),
            )
            .when(
                ~has_new,
                F.array(
                    F.struct(F.lit("delete").alias("_change"), old_struct.alias("_row"))
                ),
            )
            .otherwise(
                F.array(
                    F.struct(
                        F.lit("update_before").alias("_change"),
                        old_struct.alias("_row"),
                    ),
                    F.struct(
                        F.lit("update_after").alias("_change"),
                        new_struct.alias("_row"),
                    ),
                )
            )
        )
        ex = base.select(F.explode(rows).alias("e"))
        return ex.select(
            *[F.col(f"e._row.{c}").alias(c) for c in schema_cols],
            F.col("e._change").alias("_change"),
        )

    def delta_file_counts(self) -> dict[int, int]:
        """Per-bucket count of unmerged delta files (compaction signal).
        Retained tombstone files are excluded: they are compact's OUTPUT
        (at most one per bucket per compaction), not work for it —
        counting them would make auto-compact re-target already-compacted
        buckets every merge, a no-op commit-check per batch."""
        out: dict[int, int] = {}
        for e in self.manifest()["files"]:
            if e.get("delta") and not e.get("tombstone"):
                out[e["bucket"]] = out.get(e["bucket"], 0) + 1
        return out

    def total_rows(self, version: int | None = None) -> int:
        return sum(e["rows"] for e in self.manifest(version)["files"])

    def describe(self, version: int | None = None) -> dict:
        """Table-health summary from metadata alone — no Spark session,
        no data IO beyond ``stat()`` for byte sizes. The operational
        dashboard row: layout, row/file/byte counts split base vs delta
        vs tombstone, per-bucket compaction backlog, zone-map coverage
        per stats column (what :meth:`read_since`/:meth:`lookup` can
        prune on), fence/tag/staged-commit state, retained snapshots."""
        m = self.manifest(version)
        entries = m["files"]
        base = [e for e in entries if not e.get("delta")]
        deltas = [e for e in entries if e.get("delta") and not e.get("tombstone")]
        tombs = [e for e in entries if e.get("tombstone")]
        backlog = {}
        for e in deltas:
            backlog[e["bucket"]] = backlog.get(e["bucket"], 0) + 1
        total_bytes = 0
        for e in entries:
            try:
                total_bytes += os.path.getsize(os.path.join(self.path, e["path"]))
            except OSError:
                pass  # concurrent maintenance
        wanted = list(dict.fromkeys(
            [*self.stats_columns(), *m["key_columns"]]
        ))
        coverage = {
            c: (
                round(
                    sum(1 for e in entries if c in (e.get("stats") or {}))
                    / len(entries),
                    3,
                )
                if entries
                else None
            )
            for c in wanted
        }
        retained = sum(
            1
            for v in range(1, (self.current_version() or 0) + 1)
            if self.manifest_exists(v)
        )
        _bloom_raw = m.get("properties", {}).get("bloom_columns") or ""
        _bloom_prop = [c.strip() for c in _bloom_raw.split(",") if c.strip()]
        return {
            "path": self.path,
            "version": m["version"],
            "operation": m["operation"],
            "num_buckets": m["num_buckets"],
            "key_columns": m["key_columns"],
            "order_column": self.order_column,
            "schema_fields": len(m["schema"]["fields"]),
            "rows": sum(e["rows"] for e in entries),
            "files": {
                "base": len(base),
                "delta": len(deltas),
                "tombstone": len(tombs),
                "total": len(entries),
            },
            "bytes": total_bytes,
            "delta_buckets": len(backlog),
            "max_bucket_delta_files": max(backlog.values(), default=0),
            "zone_map_coverage": coverage,
            # share of BASE files carrying a bloom sidecar (what equality
            # probes on bloom_columns can prune); a rewrite backfills it
            "bloom_columns": _bloom_prop,
            "bloom_coverage": (
                round(
                    sum(1 for e in base if e.get("bloom")) / len(base), 3
                )
                if base and _bloom_prop
                else None
            ),
            "fenced_batches": len(m["fenced_batch_ids"]),
            "tags": self.tags(),
            "staged_wap_ids": [s["wap_id"] for s in self.staged()],
            "snapshots_retained": retained,
        }

    def snapshots(self) -> list[SnapshotInfo]:
        out = []
        for v in range(1, (self.current_version() or 0) + 1):
            if v not in self._manifest_cache and not os.path.exists(
                os.path.join(self.manifest_dir, f"v{v:08d}.json")
            ):
                continue  # expired snapshot
            m = self.manifest(v)
            out.append(
                SnapshotInfo(
                    version=v,
                    operation=m["operation"],
                    summary=m.get("summary") or {},
                    total_rows=sum(e["rows"] for e in m["files"]),
                    num_files=len(m["files"]),
                )
            )
        return out

    # -- writes ------------------------------------------------------------------

    def _write_data_files(
        self,
        df: DataFrame,
        delta: bool = False,
        tombstone: bool = False,
        sort_within: list[str] | None = None,
        max_records_per_file: int | None = None,
        extra_stats_cols: list[str] | None = None,
    ) -> list[dict]:
        """Write df (current schema + ``_bucket``) as bucket-partitioned parquet.

        Returns manifest file entries. One shuffle by ``_bucket`` so each
        bucket lands in few files; parquet row counts come from the footers
        (the metadata pass Iceberg gets from task commit messages).

        ``sort_within`` overrides the within-partition sort (default: the
        key columns); with ``max_records_per_file`` the writer splits each
        bucket into sequential chunks of the sorted order, so every file
        covers a NARROW range of the sort column — the zone-map clustering
        contract of :meth:`rewrite_clustered`. ``extra_stats_cols`` adds
        columns to the per-file min/max recording for this write.
        """
        m = self.manifest()
        rel_dir = os.path.join("data", uuid.uuid4().hex)
        out_dir = os.path.join(self.path, rel_dir)
        # Regardless of who built the session: INT96 timestamps carry no
        # parquet footer statistics (timestamp zone maps would silently
        # never record) and are forbidden by the Iceberg spec. Scoped to
        # this write — a caller's own outputTimestampType choice for
        # their unrelated datasets is restored afterwards.
        _TS_CONF = "spark.sql.parquet.outputTimestampType"
        prev_ts_conf = self.spark.conf.get(_TS_CONF, None)
        self.spark.conf.set(_TS_CONF, "TIMESTAMP_MICROS")
        try:
            writer = (
                df.repartition(F.col("_bucket"))
                .sortWithinPartitions(*(sort_within or self.key_columns))
                .write.partitionBy("_bucket")
            )
            if max_records_per_file:
                writer = writer.option(
                    "maxRecordsPerFile", int(max_records_per_file)
                )
            writer.parquet(out_dir, compression="zstd")
        finally:
            if prev_ts_conf is None:
                self.spark.conf.unset(_TS_CONF)
            else:
                self.spark.conf.set(_TS_CONF, prev_ts_conf)
        id_by_name = {f["name"]: f["id"] for f in m["schema"]["fields"]}
        columns = {str(id_by_name[f["name"]]): f["name"] for f in m["schema"]["fields"]}
        found: list[tuple[str, int]] = []
        for root, _dirs, files in os.walk(out_dir):
            mm = _BUCKET_DIR_RE.search(root)
            if not mm:
                continue
            bucket = int(mm.group(1))
            found.extend(
                (os.path.join(root, fn), bucket)
                for fn in files
                if fn.endswith(".parquet")
            )
        # Footer row counts in parallel — serial footer reads were a visible
        # driver-side stall per commit (Iceberg gets these from task commit
        # messages; a thread pool is the local-FS equivalent).
        from concurrent.futures import ThreadPoolExecutor

        wanted_stats = list(self.stats_columns())
        for c in extra_stats_cols or []:
            if c not in wanted_stats:
                wanted_stats.append(c)
        # Key columns always get zone maps: base files are key-sorted
        # within buckets (the default sort_within), so their key bounds
        # are tight — that is what lets :meth:`lookup` open O(1) files
        # instead of the whole bucket. Same footer pass, zero extra IO.
        for c in self.key_columns:
            if c not in wanted_stats:
                wanted_stats.append(c)
        stat_cols = [c for c in wanted_stats if c in id_by_name]
        # Bloom sidecars: opt-in (bloom_columns property). Base files get
        # the configured columns; DELTA files get the KEY columns instead —
        # delta markers carry their keys, so a delta file whose key bloom
        # excludes a probed key provably holds no marker for it and point
        # reads (lookup / full-key scan) may skip it, the
        # backlogged-compactor point-read shape. Non-key delta values say
        # nothing about the base rows they delete/supersede, so only keys
        # are bloomed there. Costs one columnar re-read of the listed
        # columns per written file — the same post-write metadata pass as
        # the footer stats, inside the same thread pool.
        bloom_cols: list[tuple[str, str]] = []
        if not tombstone and self.bloom_columns():
            from sqoop_spark.lake.bloom import column_kind

            schema = self.schema()
            want = self.key_columns if delta else self.bloom_columns()
            for c in want:
                if c in id_by_name and c in schema.fieldNames():
                    kind = column_kind(schema[c].dataType)
                    if kind:
                        bloom_cols.append((c, kind))

        def entry(item: tuple[str, int]) -> dict:
            full, bucket = item
            pf = pq.ParquetFile(full)
            meta = pf.metadata
            e = {
                "path": os.path.relpath(full, self.path),
                "bucket": bucket,
                "rows": meta.num_rows,
                "columns": columns,
            }
            stats = _footer_column_stats(meta, stat_cols)
            if stats:
                e["stats"] = stats
            if delta:
                e["delta"] = True
            if tombstone:
                e["tombstone"] = True
            if bloom_cols and meta.num_rows:
                from sqoop_spark.lake import bloom as B

                tbl = pf.read(columns=[c for c, _ in bloom_cols])
                descs = {}
                for c, kind in bloom_cols:
                    # drop_null on the Arrow side: a nullable int64 column
                    # converted straight to pandas becomes float64 (NaN
                    # for NULL), rounding values above 2^53 before hashing
                    # while the probe hashes the exact int64 — a bloom
                    # FALSE NEGATIVE that silently skips live files. With
                    # nulls gone the conversion keeps an exact int64 dtype.
                    d = B.build_column(
                        tbl.column(c).drop_null().to_pandas(), kind
                    )
                    if d:
                        descs[c] = d
                if descs:
                    B.write_sidecar(full + ".bloom", descs)
                    e["bloom"] = os.path.relpath(full + ".bloom", self.path)
            return e

        if not found:
            return []
        with ThreadPoolExecutor(max_workers=min(32, len(found))) as pool:
            return list(pool.map(entry, found))

    def _prepare_df(self, df: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
        schema = self.schema()
        names = schema.fieldNames()
        missing = [n for n in names if n not in df.columns]
        if missing:
            raise EngineError(f"input missing table columns: {missing}")
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        for c in extra_cols:
            cols.append(F.col(c))
        if "_bucket" in df.columns:
            cols.append(F.col("_bucket").cast("int"))
            return df.select(*cols)
        return df.select(*cols).withColumn("_bucket", self.bucket_expr())

    def _commit(
        self,
        operation: str,
        files: list[dict],
        batch_id: int | None,
        summary: dict | None,
        lineage: dict | None,
        schema_update: dict | None = None,
        num_buckets: int | None = None,
        base: dict | None = None,
        properties: dict | None = None,
    ) -> dict:
        """Commit ``files`` as the next snapshot in ONE exclusive manifest
        link (:meth:`_write_manifest`); a committed manifest is never
        rewritten. ``lineage`` (per-bucket rows and the batch's
        ``counters``) is stored as given, and its ``counters`` are merged
        into ``summary``, so a visible snapshot always carries them."""
        # ``base`` pins the manifest this commit was computed against: the
        # new version is base.version+1, so ANY commit that landed after
        # the caller read its state makes the atomic link fail
        # (ConcurrentCommitError) instead of being silently dropped from
        # the carried file list. Callers that read state once and commit
        # later MUST pass the manifest they read; without it the base is
        # re-read here (single-writer fast path).
        m = base if base is not None else self.manifest()
        fenced = list(m["fenced_batch_ids"])
        if batch_id is not None:
            if batch_id in fenced:
                raise EngineError(f"batch {batch_id} is already fenced (exactly-once)")
            fenced.append(batch_id)
        new = {
            "format_version": FORMAT_VERSION,
            "version": m["version"] + 1,
            "parent": m["version"],
            "operation": operation,
            "schema": schema_update or m["schema"],
            "key_columns": m["key_columns"],
            "num_buckets": num_buckets or m["num_buckets"],
            "properties": (
                properties if properties is not None else m.get("properties", {})
            ),
            "files": files,
            "summary": {
                **(summary or {}),
                "batch_id": batch_id,
                **((lineage or {}).get("counters") or {}),
            },
            "fenced_batch_ids": fenced,
            "lineage": lineage,
        }
        self._write_manifest(new)
        return new

    @staticmethod
    def _retrying(n: int, attempt_fn):
        """Run ``attempt_fn()`` and re-run it on ``ConcurrentCommitError``,
        at most ``n`` more times — the one optimistic-retry loop behind
        every commit that can lose the manifest race. What a re-attempt
        re-reads is the attempt's own business: append-shaped commits
        rebase their written files onto the winner, base-pinned rewrites
        (:meth:`_rewrite`) recompute from the fresh manifest."""
        attempt = 0
        while True:
            try:
                return attempt_fn()
            except ConcurrentCommitError:
                if attempt >= n:
                    raise
                attempt += 1

    def _commit_append_shaped(
        self,
        operation: str,
        entries: list[dict],
        batch_id: int | None,
        summary: dict | None,
        lineage: dict | None,
        retry_conflicts: int,
        num_buckets: int,
    ) -> dict:
        """Commit APPEND-SHAPED ``entries`` with Iceberg's fast-append
        retry: the new data files are already on disk and reference no
        prior state, so each attempt re-reads the current manifest and
        re-attaches OUR entries to ITS file list (up to
        ``retry_conflicts`` rebases, :meth:`_retrying`). The exactly-once
        fence is re-checked each attempt (if the winner fenced our batch
        id, the retry raises the fencing error — a racing duplicate of the
        same batch commits once). ``num_buckets`` pins the numbering the
        entries' bucket ids were computed under: a winner that REBUCKETED
        the table makes them stale (a bucket-7-of-32 file is not
        bucket-7-of-64), so that race surfaces as ConcurrentCommitError
        for a rewrite instead of corrupting the layout. State-DEPENDENT
        commits (merge, compact, rewrite, rebucket, DML) must NOT rebase:
        their output was computed against the parent snapshot, so they
        recompute instead (:meth:`_rewrite`)."""

        def attempt() -> dict:
            base = self.manifest()
            if base["num_buckets"] != num_buckets:
                raise ConcurrentCommitError(
                    f"table was rebucketted ({num_buckets} -> "
                    f"{base['num_buckets']} buckets) while this "
                    f"{operation} was writing — its bucket ids are stale; "
                    "rewrite the batch against the new layout"
                )
            return self._commit(
                operation, base["files"] + entries, batch_id, summary,
                lineage, base=base,
            )

        return self._retrying(retry_conflicts, attempt)

    def _rewrite(self, op: str, retries: int, batch_id, summary, plan) -> dict:
        """The base-pinned rewrite core behind every state-dependent
        maintenance and DML operation (compact, bin-pack, cluster,
        rebucket, delete, update, MERGE INTO) — Sqoop's merge tool
        collapse-to-newest under an optimistic commit.

        Each attempt pins ``base = self.manifest()`` and calls
        ``plan(base)``, which selects, reads, transforms and writes
        against that snapshot. The plan returns ``None`` for a no-op
        (``base`` is returned without committing) or ``(carried,
        new_entries, summary_fields[, num_buckets])``; ``carried +
        new_entries`` is then committed under ``base`` with the
        operation's ``summary`` extended by ``summary_fields``. A
        concurrent commit makes the link fail (the state the plan read no
        longer exists); ``retries`` re-runs the whole plan against the
        fresh manifest, so the winner's changes are INCLUDED. This is the
        standing-maintenance loop — ingest never waits for maintenance,
        maintenance retries around ingest. A lost attempt's data files
        become orphans that ``remove_orphan_files`` ages out."""

        def attempt() -> dict:
            base = self.manifest()
            out = plan(base)
            if out is None:
                return base
            carried, entries, fields, *nb = out
            return self._commit(
                op,
                carried + entries,
                batch_id,
                {**(summary or {}), **fields},
                None,
                num_buckets=nb[0] if nb else None,
                base=base,
            )

        return self._retrying(retries, attempt)

    def append(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        summary: dict | None = None,
        retry_conflicts: int = 0,
    ) -> dict:
        """Append-only commit (Sqoop `--incremental append` sink semantics).

        ``retry_conflicts`` > 0 enables the multi-writer shape — N parallel
        import jobs blind-appending to one table — by rebasing onto the
        winning manifest on a lost commit race (see
        :meth:`_commit_append_shaped`)."""
        nb = self.num_buckets  # the numbering _prepare_df buckets under
        entries = self._write_data_files(self._prepare_df(df))
        return self._commit_append_shaped(
            "append", entries, batch_id, summary, None, retry_conflicts, nb
        )

    def append_delta(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        op_col: str = "op",
        summary: dict | None = None,
        lineage: Callable[[list[dict]], dict] | None = None,
        retry_conflicts: int = 0,
    ) -> dict:
        """Merge-on-read upsert commit: append newest-wins delta files.

        The write-side half of MoR (the shape of Flink-CDC → Iceberg
        upserts: data + equality-delete information land as new files; the
        merge happens at read/compaction). ``df`` carries the table columns
        plus ``op_col`` ('upsert'/'delete'); rows are written
        bucket-partitioned with a physical ``_op`` column and marked
        ``delta`` in the manifest. Per-event write volume is O(batch), not
        O(table) — the property that lets a 10^10-event replay stream
        instead of rewriting the table every batch.

        Delta files are append-shaped (read-time resolution orders by the
        order column, never by commit order), so ``retry_conflicts`` safely
        rebases onto a concurrent winner exactly like :meth:`append`.

        ``lineage(entries)`` builds the commit's lineage from the freshly
        written delta entries. It runs once, after the write and before
        the first commit attempt, so its ``counters`` land in the one
        atomic manifest link (see :meth:`_commit`).
        """
        if op_col not in df.columns:
            df = df.withColumn(op_col, F.lit("upsert"))
        nb = self.num_buckets  # capture BEFORE bucketing the rows under it
        prepared = self._prepare_df(
            df.withColumn("_op", F.col(op_col)), extra_cols=("_op",)
        )
        entries = self._write_data_files(prepared, delta=True)
        return self._commit_append_shaped(
            "delta-append", entries, batch_id, summary,
            lineage(entries) if lineage else None, retry_conflicts, nb,
        )

    def compact(
        self,
        buckets: Iterable[int] | None = None,
        batch_id: int | None = None,
        summary: dict | None = None,
        tombstone_horizon=None,
        retry_recompute: int = 0,
    ) -> dict:
        """Collapse MoR deltas into base files (Iceberg rewrite/compaction).

        Resolves newest-wins per key for the chosen buckets and rewrites
        them copy-on-write; a no-op when no deltas exist there.

        Winning delete markers are RETAINED as a small tombstone delta file
        rather than dropped: discarding them would let a late out-of-order
        event with a LOWER order value resurrect a deleted key — exactly
        the out-of-order-epoch case MoR exists to handle. Tombstones carry
        forward across compactions until ``tombstone_horizon`` is passed:
        a caller that knows no event with order < horizon can still arrive
        (its source's ordering watermark) may pass it to age them out.

        A compactor racing live delta writers loses the commit link
        (base-pinned — the state it resolved no longer exists).
        ``retry_recompute`` > 0 re-runs the whole resolve from the fresh
        manifest (the winner's new deltas are then INCLUDED; see
        :meth:`_rewrite`).
        """
        chosen = None if buckets is None else set(buckets)

        def plan(base: dict):
            # Tombstone-only buckets are already compacted — re-resolving
            # them would produce an identical state and a pointless commit.
            # With a horizon given they ARE targeted, so aged-out tombstones
            # get dropped.
            delta_buckets = {
                e["bucket"]
                for e in base["files"]
                if e.get("delta")
                and (tombstone_horizon is not None or not e.get("tombstone"))
            }
            target = (
                delta_buckets if chosen is None else chosen & delta_buckets
            )
            if not target:
                return None
            winners = self._resolve_winners(
                self._read_files(
                    [e for e in base["files"] if e["bucket"] in target],
                    version=base["version"],
                    with_op=True,
                )
            ).persist()
            try:
                entries, tomb_entries = self._write_live_and_tombstones(
                    winners.filter(F.col("_op") != "delete").drop("_op"),
                    winners.filter(F.col("_op") == "delete"),
                    tombstone_horizon,
                )
            finally:
                winners.unpersist()
            carried = [e for e in base["files"] if e["bucket"] not in target]
            return carried, entries + tomb_entries, {
                "compacted_buckets": len(target),
                "tombstones": sum(e["rows"] for e in tomb_entries),
            }

        return self._rewrite("compact", retry_recompute, batch_id, summary, plan)

    def _write_live_and_tombstones(
        self, live: DataFrame, tomb: DataFrame, tombstone_horizon
    ) -> tuple[list[dict], list[dict]]:
        """Shared compact/rebucket output writer: live rows as base files,
        winning delete markers as a retained tombstone delta (aged out past
        ``tombstone_horizon``, the caller's ordering watermark)."""
        entries = self._write_data_files(self._prepare_df(live))
        if tombstone_horizon is not None:
            tomb = tomb.filter(
                F.col(self.order_column) >= F.lit(tombstone_horizon)
            )
        tomb_entries = self._write_data_files(
            self._prepare_df(tomb, extra_cols=("_op",)),
            delta=True,
            tombstone=True,
        )
        return entries, tomb_entries

    def rewrite_small_files(
        self,
        target_rows: int = 1_000_000,
        min_files: int = 2,
        buckets: Iterable[int] | None = None,
        batch_id: int | None = None,
        retry_recompute: int = 0,
    ) -> dict:
        """Bin-pack small base files (Iceberg ``rewrite_data_files``).

        Streaming/incremental ingest commits many small per-batch files;
        read amplification then grows with commit COUNT rather than data
        size — at 100 TB the difference between opening 10^3 and 10^7
        parquet footers. Buckets holding ≥ ``min_files`` base files
        averaging under ``target_rows`` rows are rewritten into few large
        files; everything else (including MoR delta files — those belong
        to :meth:`compact`, and read-time resolution orders by the order
        column, never by file position, so rewriting base files under
        live deltas is safe) is carried forward by reference. A no-op
        returns the current manifest without committing.
        ``retry_recompute`` re-runs the pack against the fresh manifest on
        a lost commit race (the standing-maintenance loop, as
        :meth:`compact`)."""
        chosen = None if buckets is None else set(buckets)

        def plan(base: dict):
            target = {
                b: files
                for b, files in self._base_files_by_bucket(base).items()
                if len(files) >= min_files
                and sum(f["rows"] for f in files) / len(files) < target_rows
                and (chosen is None or b in chosen)
            }
            if not target:
                return None
            rewritten = [e for files in target.values() for e in files]
            df = self._read_files(rewritten, version=base["version"])
            entries = self._write_data_files(self._prepare_df(df))
            carried = [
                e for e in base["files"] if e.get("delta") or e["bucket"] not in target
            ]
            return carried, entries, {
                "rewritten_files": len(rewritten),
                "new_files": len(entries),
                "buckets": len(target),
            }

        return self._rewrite("rewrite", retry_recompute, batch_id, None, plan)

    @staticmethod
    def _base_files_by_bucket(base: dict, skip=()) -> dict[int, list[dict]]:
        """Bucket id → base (non-delta) file entries of ``base``, for the
        buckets not in ``skip`` — the file selection of the bin-pack and
        clustering rewrites."""
        out: dict[int, list[dict]] = {}
        for e in base["files"]:
            if not e.get("delta") and e["bucket"] not in skip:
                out.setdefault(e["bucket"], []).append(e)
        return out

    def rewrite_clustered(
        self,
        column: str | None = None,
        target_rows: int = 1_000_000,
        buckets: Iterable[int] | None = None,
        batch_id: int | None = None,
        retry_recompute: int = 0,
    ) -> dict:
        """Cluster each bucket's base files by ``column`` (default: the
        order column) — Iceberg's sort-order rewrite, the maintenance pass
        that gives MERGE tables zone-map pruning on the incremental axis.

        ``column`` may also be a LIST of 2-3 columns: the rewrite then
        sorts by their Morton-interleaved z-value (Delta's ``OPTIMIZE
        ZORDER BY``; see lake/zorder.py) and records zone maps for EVERY
        listed column, so :meth:`scan` prunes files on any of them at
        once — the multi-dimensional needle-query layout. The z-value is
        a sort key only (one bounded range probe, one SQL expression);
        nothing extra is written, and clustering quality affects pruning
        effectiveness, never soundness.

        On a hash-bucketed merge table every CoW rewrite spans the full
        order range (each bucket holds the newest row of EVERY key it has
        ever seen), so ``read_since`` zone maps cannot skip its files: an
        incremental consumer re-reads whole buckets forever. This rewrite
        sorts each bucket by ``column`` and splits it into files of
        ``target_rows`` sequential rows — each file then covers a NARROW
        ``[min, max]`` of the column, recorded in the manifest zone maps
        (``column`` is added to this write's stats even when it is not a
        table ``stats_columns`` property), and a consumer resuming from a
        recent watermark opens only the tail files. Recently-updated keys
        cluster in the high-order files — exactly the rows an incremental
        consumer wants.

        Buckets holding unmerged non-tombstone deltas are SKIPPED (carry
        by reference): their logical state is not their base files —
        ``compact`` first, then cluster (the standing-maintenance order).
        Tombstone files and skipped buckets carry by reference; the commit
        is base-pinned. A no-op (no eligible base files) returns the
        current manifest without committing.

        Note: size ``rewrite_small_files``'s ``target_rows`` consistently —
        bin-packing a clustered bucket re-merges its files without the
        sort and undoes the clustering. ``retry_recompute`` re-runs the
        clustering against the fresh manifest on a lost commit race (the
        standing-maintenance loop, as :meth:`compact`).
        """
        zcols: list[str] | None = None
        if isinstance(column, (list, tuple)):
            if len(column) == 1:
                column = column[0]
            else:
                zcols = list(column)
        col = (zcols[0] if zcols else column) or self.order_column
        for c in zcols or [col]:
            if c not in self.schema().fieldNames():
                raise EngineError(
                    f"rewrite_clustered: no column {c!r} in table schema"
                )
        chosen = None if buckets is None else set(buckets)

        def plan(base: dict):
            skip = self._resolve_buckets(base["files"])
            target = {
                b: files
                for b, files in self._base_files_by_bucket(base, skip).items()
                if chosen is None or b in chosen
            }
            if not target:
                return None
            rewritten = [e for files in target.values() for e in files]
            df = self._read_files(rewritten, version=base["version"])
            if zcols:
                # Z-order: sort by the Morton-interleaved bins of ALL the
                # columns (lake/zorder.py) — sequential files then cover a
                # narrow range of EVERY listed column, and scan() prunes on
                # any of them. The z-value is a sort key only; nothing extra
                # is written.
                from sqoop_spark.lake.zorder import zvalue_column

                sort_key = zvalue_column(df, zcols, self.schema())
            else:
                sort_key = col
            entries = self._write_data_files(
                self._prepare_df(df),
                sort_within=["_bucket", sort_key],
                max_records_per_file=target_rows,
                extra_stats_cols=zcols or [col],
            )
            carried = [
                e for e in base["files"] if e.get("delta") or e["bucket"] not in target
            ]
            return carried, entries, {
                "cluster_column": zcols if zcols else col,
                "zorder": bool(zcols),
                "rewritten_files": len(rewritten),
                "new_files": len(entries),
                "buckets": len(target),
                "skipped_delta_buckets": len(skip),
            }

        return self._rewrite("cluster", retry_recompute, batch_id, None, plan)

    def rebucket(
        self,
        new_num_buckets: int,
        batch_id: int | None = None,
        summary: dict | None = None,
        tombstone_horizon=None,
        retry_recompute: int = 0,
    ) -> dict:
        """Change the table's bucket count in one atomic snapshot — the
        partition-spec-evolution problem (Iceberg's ``bucket(N, key)``
        spec change) solved as a full rewrite.

        A table created at N buckets eventually outgrows them: at 10^10
        events, 32 buckets means ~300 GB per bucket-resolve shuffle and a
        32-task ceiling on merge parallelism. Bucket id is
        ``pmod(xxhash64(keys), B)``, so EVERY key moves when B changes —
        there is no incremental path; the honest cost is one full
        shuffle+rewrite, priced like a whole-table compaction and
        committed atomically (readers of prior versions are untouched;
        time travel across the boundary works because each manifest pins
        its own ``num_buckets`` and file list).

        Semantics preserved across the rewrite — exactly ``read()``'s:
        - Buckets with unmerged non-tombstone deltas are key-resolved
          (rebucket subsumes ``compact`` there), so the new layout starts
          delta-free. Buckets WITHOUT them re-hash as plain rows — a
          blind-append table (legitimate duplicate keys) migrates without
          losing rows to a resolution ``read()`` would never apply.
        - Retained and winning delete markers are re-written as tombstone
          delta files in their NEW buckets — a late lower-seq upsert of a
          deleted key is still suppressed after the rebucket, exactly as
          after a compaction (``tombstone_horizon`` ages them out, same
          contract as ``compact``).
        - ``changes_between`` across the boundary diffs every bucket
          (all file sets change) and reports the true row-level delta —
          empty when only the layout moved.

        ``retry_recompute`` re-runs the whole rewrite from the fresh
        manifest on a lost commit race (live ingest during the rewrite);
        the failed attempt's files age out via ``remove_orphan_files``.
        """
        if new_num_buckets < 1:
            raise EngineError("rebucket: new_num_buckets must be >= 1")
        nb = int(new_num_buckets)
        keys = [F.col(c) for c in self.key_columns]
        new_bucket = F.pmod(F.xxhash64(*keys), F.lit(nb)).cast("int")

        def plan(base: dict):
            if nb == base["num_buckets"]:
                return None
            files, v = base["files"], base["version"]
            resolve_bs = self._resolve_buckets(files)
            ent_resolve = [e for e in files if e["bucket"] in resolve_bs]
            ent_plain = [
                e for e in files
                if e["bucket"] not in resolve_bs and not e.get("delta")
            ]
            # tombstone-only buckets' retained delete markers carry forward
            ent_tomb = [
                e for e in files
                if e["bucket"] not in resolve_bs and e.get("delta")
            ]
            live = self._read_files(ent_plain, version=v)
            tomb = self._read_files(ent_tomb, version=v, with_op=True)
            winners = None
            if ent_resolve:
                winners = self._resolve_winners(
                    self._read_files(ent_resolve, version=v, with_op=True)
                ).persist()
                live = live.unionByName(
                    winners.filter(F.col("_op") != "delete").drop("_op")
                )
                tomb = tomb.unionByName(winners.filter(F.col("_op") == "delete"))
            try:
                entries, tomb_entries = self._write_live_and_tombstones(
                    live.withColumn("_bucket", new_bucket),
                    tomb.withColumn("_bucket", new_bucket),
                    tombstone_horizon,
                )
            finally:
                if winners is not None:
                    winners.unpersist()
            return [], entries + tomb_entries, {
                "num_buckets_before": base["num_buckets"],
                "num_buckets_after": nb,
                "tombstones": sum(e["rows"] for e in tomb_entries),
            }, nb

        return self._rewrite("rebucket", retry_recompute, batch_id, summary, plan)

    def overwrite_buckets(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        batch_id: int | None = None,
        summary: dict | None = None,
        lineage: Callable[[list[dict]], dict] | None = None,
        base_version: int | None = None,
        retry_conflicts: int = 0,
        carry_entries: list[dict] | None = None,
    ) -> dict:
        """Copy-on-write commit: replace all files of ``buckets`` with ``df``.

        Files outside the bucket set are carried forward by reference — the
        merge-apply path. ``df`` must contain only rows belonging to the
        given buckets. ``carry_entries`` are base-snapshot file entries
        INSIDE the bucket set that the caller proved untouched (key
        zone-map disjointness — cdc/merge.py ``_split_zone_carry``); they
        are kept by reference too, so a file-granular CoW rewrites only
        the overlapping files of each bucket.

        ``base_version`` pins the snapshot ``df`` was computed against
        (the caller's read point); the commit is based there, so a
        concurrent commit raises ``ConcurrentCommitError`` rather than
        being silently dropped from the carry. With ``retry_conflicts``
        > 0, a lost race whose winner touched ONLY OTHER buckets is
        rebased (carry = winner's files outside our set — the
        disjoint-partition multi-writer shape, Iceberg's overwrite
        conflict validation); a winner that changed OUR buckets' files
        still raises, because ``df`` was computed against state that no
        longer exists.

        ``lineage(entries)`` builds the commit's lineage from the freshly
        written entries. It runs once, after the write and before the
        first commit attempt (every re-attempt reuses it), so its
        ``counters`` land in the one atomic manifest link (see
        :meth:`_commit`).
        """
        bs = set(int(b) for b in buckets)
        base = self.manifest(base_version)
        keep = list(carry_entries or [])
        if keep:
            base_paths = {e["path"] for e in base["files"]}
            bad = [
                e["path"]
                for e in keep
                if e["path"] not in base_paths or e["bucket"] not in bs
            ]
            if bad:
                raise EngineError(
                    "carry_entries must be base-snapshot files inside the "
                    f"bucket set; not: {bad[:3]}"
                )
        entries = self._write_data_files(self._prepare_df(df))
        stray = {e["bucket"] for e in entries} - bs
        if stray:
            raise EngineError(f"overwrite produced rows outside bucket set: {stray}")
        lin = lineage(entries) if lineage else None

        def ours(m: dict) -> set[str]:
            return {e["path"] for e in m["files"] if e["bucket"] in bs}

        attempts = 0

        def attempt() -> dict:
            nonlocal attempts
            current = base
            if attempts:  # a re-attempt rebases only past a disjoint winner
                current = self.manifest()
                # a rebucket winner invalidates our bucket numbering even
                # when our buckets' file sets compare equal (e.g. both
                # empty) — the merge must be recomputed against the new
                # layout, never rebased
                if (
                    current["num_buckets"] != base["num_buckets"]
                    or ours(current) != ours(base)
                ):
                    raise ConcurrentCommitError(
                        f"concurrent commit v{current['version']} changed "
                        f"bucket(s) {sorted(bs)} (or the bucket layout) "
                        "this merge was computed against — recompute "
                        "required (only disjoint-bucket winners can be "
                        "rebased)"
                    )
            attempts += 1
            carried = [e for e in current["files"] if e["bucket"] not in bs]
            return self._commit(
                "merge", carried + keep + entries, batch_id, summary, lin,
                base=current,
            )

        return self._retrying(retry_conflicts, attempt)

    # -- row-level DML ---------------------------------------------------------------

    @staticmethod
    def _as_predicate(condition) -> F.Column:
        """Normalize a SQL string / Column into a total boolean predicate:
        NULL evaluates to False (SQL DML semantics — DELETE/UPDATE WHERE
        touches only rows where the condition IS TRUE, never NULL rows)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return F.coalesce(cond.cast("boolean"), F.lit(False))

    def _matched_files(
        self, state: DataFrame, pred: F.Column
    ) -> tuple[dict[int, int], set[str], set[int]]:
        """Discovery probe for DML: bucket id → matched-row count, PLUS the
        exact manifest-relative paths of files holding matching rows
        (``input_file_name`` — exact attribution, not a zone-map bound),
        PLUS the buckets with UNATTRIBUTED matches (rows that crossed a
        shuffle before attribution — resolve-bucket winners — where
        ``input_file_name`` is empty). One column-pruned scan; the collect
        is bounded by the number of matched files. Callers may carry a
        plain bucket's file iff it is not in the matched set and its bucket
        has no unattributed matches."""
        rows = (
            state.filter(pred)
            .groupBy(
                self.bucket_expr().alias("_b"),
                F.input_file_name().alias("_f"),
            )
            .count()
            .collect()
        )
        from urllib.parse import unquote, urlparse

        root = os.path.abspath(self.path)
        counts: dict[int, int] = {}
        matched: set[str] = set()
        unattributed: set[int] = set()
        for r in rows:
            b = int(r["_b"])
            counts[b] = counts.get(b, 0) + int(r["count"])
            f = r["_f"] or ""
            p = unquote(urlparse(f).path) if f else ""
            p = os.path.abspath(p) if p else ""
            if p and p.startswith(root + os.sep):
                matched.add(os.path.relpath(p, root))
            else:
                unattributed.add(b)
        return counts, matched, unattributed

    def _dml_entry_winners(self, base: dict, entries: list[dict]) -> DataFrame:
        """Newest-wins winners of ``entries`` at ``base`` WITH the ``_op``
        column retained — winning CDC delete markers included, so a DML
        rewrite of a bucket holding unmerged deltas or retained tombstones
        never drops the markers that guard against out-of-order
        resurrection (the same contract as :meth:`compact`). Bucket-
        granular like ``_read_state``: only buckets with unmerged
        non-tombstone deltas pay the resolve window; plain buckets scan
        base files (live winners) and tombstone files (delete winners)
        as-is — their key sets are disjoint by the compaction contract, so
        no shuffle is needed there. Callers must pass every entry of a
        bucket that holds deltas or tombstones (the file-granular DML path
        only prunes files in plain buckets)."""
        version = base["version"]
        rb = self._resolve_buckets(entries)
        plain = [
            e
            for e in entries
            if e["bucket"] not in rb and not e.get("tombstone")
        ]
        plain_tomb = [
            e for e in entries if e["bucket"] not in rb and e.get("tombstone")
        ]
        out = self._read_files(plain, version, with_op=True)
        if plain_tomb:
            out = out.unionByName(
                self._read_files(plain_tomb, version, with_op=True)
            )
        if rb:
            need = [e for e in entries if e["bucket"] in rb]
            out = out.unionByName(
                self._resolve_winners(
                    self._read_files(need, version, with_op=True)
                )
            )
        return out

    def _erased_marker(self, prefix: str = "") -> list[F.Column]:
        """Select list of a payload-free delete marker: the key and order
        columns (read through ``prefix``) survive, every other column is
        NULL — so erased data does not live on in its tombstone."""
        return [
            F.col(prefix + f.name)
            if f.name in self.key_columns or f.name == self.order_column
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.schema().fields
        ] + [F.lit("delete").alias("_op")]

    def _dml_rewrite(
        self, op, rows_key, pred, batch_id, summary, retries, write, fields=None
    ) -> dict:
        """File-granular copy-on-write DML under :meth:`_rewrite` — the
        shared plan of :meth:`delete_where` and :meth:`update_where`.

        One discovery scan (:meth:`_matched_files`) attributes matching
        rows to exact files. In the affected buckets a file is kept
        (carried by reference, never read or rewritten) when its bucket is
        plain (no delta/tombstone entries — winners there are per-file),
        every one of its bucket's matches was attributed to a file, and it
        is not a matched file. The other files' winners
        (:meth:`_dml_entry_winners`) go to ``write``, which returns the
        rewrite's ``(entries, tomb_entries)``. Write amplification:
        O(files actually holding matching rows), the GDPR-delete shape at
        100 TB (erase one subject → rewrite only the few files carrying
        their rows). No match is a no-op."""

        def plan(base: dict):
            counts, matched, unattributed = self._matched_files(
                self._read_state(base["version"], None), pred
            )
            if not counts:
                return None
            bs = set(counts)
            aff = [e for e in base["files"] if e["bucket"] in bs]
            full = {
                e["bucket"] for e in aff if e.get("delta") or e.get("tombstone")
            } | unattributed
            touched, kept = [], []
            for e in aff:
                if e["bucket"] in full or e["path"] in matched:
                    touched.append(e)
                else:
                    kept.append(e)
            win = self._dml_entry_winners(base, touched).persist()
            try:
                entries, tomb_entries = write(win)
            finally:
                win.unpersist()
            carried = [e for e in base["files"] if e["bucket"] not in bs] + kept
            return carried, entries + tomb_entries, {
                rows_key: sum(counts.values()),
                "rewritten_buckets": len(bs),
                **(fields or {}),
                "files_carried_in_buckets": len(kept),
                "files_rewritten_from": len(touched),
            }

        return self._rewrite(op, retries, batch_id, summary, plan)

    def delete_where(
        self,
        condition,
        batch_id: int | None = None,
        summary: dict | None = None,
        tombstone_horizon=None,
        retry_recompute: int = 0,
    ) -> dict:
        """Row-level predicate DELETE (Iceberg/Delta ``DELETE FROM t WHERE
        cond`` — the GDPR-erasure primitive the CDC event stream cannot
        express, because erasure is a statement about the TABLE, not an
        event from the source; the reference has no analog — Sqoop tables
        are write-once exports).

        Copy-on-write at FILE granularity: one discovery scan finds the
        exact files holding matching rows (``input_file_name``
        attribution); only those files — plus every file of buckets whose
        winners span files (unmerged deltas / tombstones) — are read and
        rewritten without the matching rows, everything else is carried by
        reference. O(scan) + O(matched files) write, never O(table): the
        GDPR shape — erasing one subject rewrites the handful of files
        carrying their rows. Rows where the condition is NULL are KEPT
        (SQL DML semantics).

        Deleted keys are retained as tombstone delta rows — key columns and
        the order column only, every other column NULLed so the erased
        payload does not survive in the marker — at their original order
        values: a late out-of-order event with a LOWER order value loses to
        the tombstone instead of resurrecting erased data, while a genuinely
        newer upsert legitimately re-creates the key (``compact``'s
        out-of-order contract). ``tombstone_horizon`` ages markers out as in
        :meth:`compact`. A bucket that also held unmerged MoR deltas is
        compacted by the rewrite (same output the compactor would produce).

        Base-pinned commit; ``retry_recompute`` > 0 re-runs the whole
        delete against the fresh manifest on a lost commit race (the
        standing-writer loop, as :meth:`compact`). No-match is a no-op:
        returns the current manifest without committing.
        """
        pred = self._as_predicate(condition)

        def write(win: DataFrame):
            live = win.filter(F.col("_op") != "delete")
            # GDPR marker: keys + order value survive, the payload does not
            erased = live.filter(pred).select(*self._erased_marker())
            tomb = win.filter(F.col("_op") == "delete").unionByName(erased)
            return self._write_live_and_tombstones(
                live.filter(~pred).drop("_op"), tomb, tombstone_horizon
            )

        return self._dml_rewrite(
            "delete", "rows_deleted", pred, batch_id, summary, retry_recompute,
            write,
        )

    def update_where(
        self,
        condition,
        assignments: dict,
        batch_id: int | None = None,
        summary: dict | None = None,
        retry_recompute: int = 0,
    ) -> dict:
        """Row-level predicate UPDATE (Iceberg/Delta ``UPDATE t SET ...
        WHERE cond``) — same file-granular copy-on-write shape as
        :meth:`delete_where`: discovery scan attributes matches to exact
        files, only those (plus delta/tombstone buckets' files) are
        resolved and rewritten, everything else is carried by reference.

        ``assignments`` maps column name → new value (SQL expression string
        or Column, evaluated against the matching row — e.g.
        ``{"content": "reverse(content)"}``). Key columns cannot be
        assigned (that would be a delete+insert, not an update — use the
        two DML calls). Assigning the order column is allowed but changes
        which future CDC events win against the row; the updated row
        otherwise keeps its original order value, so a newer source event
        still supersedes the manual update. Rows where the condition is
        NULL are untouched (SQL DML semantics). Winning CDC delete markers
        in rewritten buckets are carried forward unchanged.
        """
        exprs = {
            c: (F.expr(v) if isinstance(v, str) else v)
            for c, v in assignments.items()
        }
        if not exprs:
            raise EngineError("update_where: empty assignments")
        schema_names = self.schema().fieldNames()
        bad = [c for c in exprs if c not in schema_names]
        if bad:
            raise EngineError(f"update_where: no such column(s): {bad}")
        keyed = [c for c in exprs if c in self.key_columns]
        if keyed:
            raise EngineError(
                f"update_where: cannot assign key column(s) {keyed} — a key "
                "change is a delete + insert, not an update"
            )
        pred = self._as_predicate(condition)

        def write(win: DataFrame):
            live = win.filter(F.col("_op") != "delete").drop("_op")
            updated = live.filter(pred).select(
                *[
                    (exprs[f.name].cast(f.dataType) if f.name in exprs else F.col(f.name)).alias(f.name)
                    for f in self.schema().fields
                ]
            )
            return self._write_live_and_tombstones(
                live.filter(~pred).unionByName(updated),
                win.filter(F.col("_op") == "delete"),
                None,
            )

        return self._dml_rewrite(
            "update", "rows_updated", pred, batch_id, summary, retry_recompute,
            write, {"set_columns": sorted(exprs)},
        )

    def merge_into(
        self,
        source: DataFrame,
        when_matched_update=None,
        update_condition=None,
        when_matched_delete=False,
        when_not_matched_insert=True,
        batch_id: int | None = None,
        summary: dict | None = None,
        retry_recompute: int = 0,
    ) -> dict:
        """Generic clause-driven MERGE (Iceberg/Delta ``MERGE INTO target
        USING source ON keys``) — the frame-driven sibling of the CDC
        newest-wins merge: the caller states WHAT happens to matched /
        unmatched rows instead of relying on the order column.

        The join is always on the table's key columns (that is what routes
        rows to buckets; a non-key merge would be a full-table join).
        Clauses, applied in Delta's order:

        - ``when_matched_delete``: ``True`` or a SQL condition over the
          aliases ``t`` (target row) / ``s`` (source row) — matching rows
          are deleted, leaving the same payload-free tombstones as
          :meth:`delete_where` (stale out-of-order replays cannot
          resurrect them).
        - ``when_matched_update``: ``"source"`` (take the source row
          wholesale — the classic upsert) or a dict ``column → SQL
          expression over t/s`` (key columns not assignable);
          ``update_condition`` optionally gates the clause. A matched row
          hit by neither clause carries unchanged.
        - ``when_not_matched_insert``: ``True`` (insert the source row —
          source must carry every table column) or a dict ``column →
          expression over s`` (unlisted non-key columns insert as NULL);
          ``False`` drops unmatched source rows.

        Physical shape = the DML/CoW contract: one aggregate over the
        source validates key uniqueness and non-null keys (Delta's
        multiple-source-rows error), one probe collects the affected
        bucket ids (bounded by ``num_buckets``), only those buckets
        resolve-and-rewrite (winning CDC delete markers carried as in
        :meth:`delete_where`), everything else carries by reference.
        Base-pinned commit; ``retry_recompute`` re-runs against the fresh
        manifest on a lost race. An empty source is a no-op.
        """
        schema = self.schema()
        names = schema.fieldNames()
        missing_keys = [k for k in self.key_columns if k not in source.columns]
        if missing_keys:
            raise EngineError(f"merge_into: source missing key column(s) {missing_keys}")
        upd: dict[str, F.Column] | str | None = None
        if when_matched_update is not None:
            if when_matched_update == "source":
                upd = "source"
            elif isinstance(when_matched_update, dict):
                bad = [c for c in when_matched_update if c not in names]
                if bad:
                    raise EngineError(f"merge_into: no such column(s): {bad}")
                keyed = [c for c in when_matched_update if c in self.key_columns]
                if keyed:
                    raise EngineError(
                        f"merge_into: cannot assign key column(s) {keyed}"
                    )
                upd = {
                    c: (F.expr(v) if isinstance(v, str) else v)
                    for c, v in when_matched_update.items()
                }
            else:
                raise EngineError(
                    "merge_into: when_matched_update must be 'source' or a dict"
                )
        ins = when_not_matched_insert
        if isinstance(ins, dict):
            bad = [c for c in ins if c not in names]
            if bad:
                raise EngineError(f"merge_into: no such column(s): {bad}")
            ins = {
                c: (F.expr(v) if isinstance(v, str) else v) for c, v in ins.items()
            }
        elif ins is True:
            missing = [n for n in names if n not in source.columns]
            if missing:
                raise EngineError(
                    "merge_into: when_not_matched_insert=True needs every "
                    f"table column in the source; missing {missing}"
                )
        if (upd == "source") and any(n not in source.columns for n in names):
            raise EngineError(
                "merge_into: when_matched_update='source' needs every table "
                "column in the source"
            )
        del_cond = when_matched_delete
        if del_cond is True:
            del_cond = F.lit(True)
        elif isinstance(del_cond, str):
            del_cond = F.expr(del_cond)
        elif del_cond is False:
            del_cond = None
        upd_cond = (
            F.expr(update_condition)
            if isinstance(update_condition, str)
            else update_condition
        )
        keys = self.key_columns
        nk = F.lit(False)
        for k in keys:
            nk = nk | F.col(k).isNull()
        stats = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.max("n").alias("mx"),
                F.max(nk.cast("int")).alias("has_null"),
                F.count(F.lit(1)).alias("n_keys"),
            )
            .collect()[0]
        )
        if stats["n_keys"] == 0:
            return self.manifest()
        if stats["has_null"]:
            raise EngineError("merge_into: NULL merge key in source")
        if stats["mx"] > 1:
            raise EngineError(
                "merge_into: multiple source rows share a merge key — "
                "reduce the source first (Delta's multiple-matches error)"
            )

        def plan(base: dict):
            bs = {
                int(r["_b"])
                for r in source.select(self.bucket_expr().alias("_b")).distinct().collect()
            }
            win = self._dml_entry_winners(
                base, [e for e in base["files"] if e["bucket"] in bs]
            ).persist()
            try:
                live = win.filter(F.col("_op") != "delete").drop("_op")
                t, s = live.alias("t"), source.alias("s")
                cond = None
                for k in keys:
                    p = F.col(f"t.{k}") == F.col(f"s.{k}")
                    cond = p if cond is None else (cond & p)
                j = t.join(s, cond, "full_outer")
                has_t = F.col(f"t.{keys[0]}").isNotNull()
                has_s = F.col(f"s.{keys[0]}").isNotNull()
                matched = has_t & has_s

                def total(c):  # NULL condition never fires a clause
                    return F.coalesce(c.cast("boolean"), F.lit(False))

                del_p = matched & (total(del_cond) if del_cond is not None else F.lit(False))
                upd_p = matched & (
                    F.lit(upd is not None)
                    & (total(upd_cond) if upd_cond is not None else F.lit(True))
                )
                ins_enabled = ins is not False

                def upd_val(f):
                    if upd == "source":
                        return F.col(f"s.{f.name}")
                    if isinstance(upd, dict) and f.name in upd:
                        return upd[f.name]
                    return F.col(f"t.{f.name}")

                def ins_val(f):
                    if f.name in keys:
                        return F.col(f"s.{f.name}")
                    if ins is True:
                        return F.col(f"s.{f.name}")
                    if isinstance(ins, dict) and f.name in ins:
                        return ins[f.name]
                    return F.lit(None).cast(f.dataType)

                live_out = j.filter(
                    (has_t & ~del_p) | (~has_t & F.lit(ins_enabled))
                ).select(
                    *[
                        F.when(~has_t, ins_val(f).cast(f.dataType))
                        .when(upd_p, upd_val(f).cast(f.dataType))
                        .otherwise(F.col(f"t.{f.name}"))
                        .alias(f.name)
                        for f in self.schema().fields
                    ]
                )
                tomb_new = j.filter(del_p).select(*self._erased_marker("t."))
                tomb = win.filter(F.col("_op") == "delete").unionByName(tomb_new)
                entries, tomb_entries = self._write_live_and_tombstones(
                    live_out, tomb, None
                )
            finally:
                win.unpersist()
            carried = [e for e in base["files"] if e["bucket"] not in bs]
            return carried, entries + tomb_entries, {
                "source_keys": int(stats["n_keys"]),
                "rewritten_buckets": len(bs),
                "tombstones": sum(e["rows"] for e in tomb_entries),
            }

        return self._rewrite("merge-into", retry_recompute, batch_id, summary, plan)

    # -- rollback / refs -------------------------------------------------------------

    def rollback_to(self, version: int) -> dict:
        """Roll the table back to snapshot ``version`` as a NEW commit
        (Iceberg ``rollback_to_snapshot``): the new manifest re-references
        the target's file list, schema, bucket layout and properties —
        metadata-only, zero data movement, O(1) in table size — while the
        version line keeps moving forward, so concurrent readers are
        unaffected and the undone snapshots remain time-travelable until
        ``expire_snapshots``.

        The exactly-once fence is restored to the TARGET's fence set: the
        point of a rollback is to undo bad batches, and an undone batch
        must be re-appliable (its corrected replacement carries the same
        batch id). The atomic manifest link makes a rollback racing any
        other writer surface as ``ConcurrentCommitError``.
        """
        cur = self.current_version() or 0
        if not (1 <= version <= cur) or not self.manifest_exists(version):
            raise EngineError(
                f"rollback_to: version {version} not in [1, {cur}] "
                "(expired or never committed)"
            )
        current = self.manifest()
        if version == current["version"]:
            return current
        target = self.manifest(version)
        new = {
            "format_version": FORMAT_VERSION,
            "version": current["version"] + 1,
            "parent": current["version"],
            "operation": "rollback",
            "schema": target["schema"],
            "key_columns": target["key_columns"],
            "num_buckets": target["num_buckets"],
            "properties": target.get("properties", {}),
            "files": target["files"],
            "summary": {"rollback_to": version, "batch_id": None},
            "fenced_batch_ids": list(target["fenced_batch_ids"]),
            "lineage": None,
        }
        self._write_manifest(new)
        return new

    @property
    def _refs_path(self) -> str:
        return os.path.join(self.manifest_dir, "refs.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tags): name → version."""
        try:
            with open(self._refs_path) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def set_tag(self, name: str, version: int | None = None) -> int:
        """Tag a snapshot with a stable name (audit marks: ``pre-migration``,
        ``eoy-2025``). Tagged snapshots are retained by
        :meth:`expire_snapshots` regardless of ``keep_last`` — the ref IS
        the retention declaration. Refs are advisory metadata outside the
        atomic commit swap (tmp+rename; concurrent taggers last-write-win),
        never load-bearing for correctness."""
        v = int(version) if version is not None else (self.current_version() or 0)
        if not (1 <= v <= (self.current_version() or 0)) or not self.manifest_exists(v):
            raise EngineError(f"set_tag: version {v} not committed (or expired)")
        refs = self.tags()
        refs[name] = v
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self._refs_path)
        return v

    def drop_tag(self, name: str) -> None:
        refs = self.tags()
        if name not in refs:
            raise EngineError(f"drop_tag: no tag {name!r}")
        del refs[name]
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self._refs_path)

    def resolve_ref(self, ref: str | int) -> int:
        """A version number, or a tag name → its version."""
        if isinstance(ref, int):
            return ref
        refs = self.tags()
        if ref in refs:
            return refs[ref]
        raise EngineError(f"resolve_ref: no tag {ref!r}")

    # -- write-audit-publish -------------------------------------------------------
    # Iceberg's WAP flow (spark.wap.id / cherrypick_snapshot): an ingest
    # job writes its batch as a STAGED commit no reader can see, an audit
    # job validates the would-be table state, and only then does a
    # metadata-only publish make it visible. The staged manifest lives
    # OUTSIDE the version namespace (manifests/staged/<wap_id>.json), so
    # `current_version` — max committed version file — never observes it;
    # publish re-uses the append-shaped optimistic rebase, so commits that
    # landed between stage and publish are carried, and the exactly-once
    # batch fence is enforced at publish time (the visibility point).

    @property
    def _staged_dir(self) -> str:
        return os.path.join(self.manifest_dir, "staged")

    def _staged_path(self, wap_id: str) -> str:
        return os.path.join(self._staged_dir, f"{wap_id}.json")

    def staged_manifest(self, wap_id: str) -> dict:
        try:
            with open(self._staged_path(wap_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise EngineError(f"no staged commit with wap id {wap_id!r}") from None

    def staged(self) -> list[dict]:
        """Staged (unpublished) commits, oldest-staged first."""
        if not os.path.isdir(self._staged_dir):
            return []
        out = []
        for fn in sorted(os.listdir(self._staged_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self._staged_dir, fn)) as f:
                    out.append(json.load(f))
        return out

    def stage(
        self,
        df: DataFrame,
        wap_id: str,
        *,
        mode: str = "append",
        batch_id: int | None = None,
        op_col: str = "op",
        summary: dict | None = None,
    ) -> dict:
        """Write a batch as a STAGED commit (write-audit-publish stage 1).

        The data files are written exactly as :meth:`append` (``mode=
        "append"``) or :meth:`append_delta` (``mode="delta"``, upsert/
        delete rows under ``op_col``) would write them, but the manifest
        goes to the staged namespace: no reader, incremental consumer or
        changelog sees the batch until :meth:`publish_staged`. Audit the
        would-be state with :meth:`read_staged` / :meth:`audit_staged`;
        discard with :meth:`abort_staged`.

        The batch fence is checked here early (fail fast on a duplicate)
        but enforced authoritatively at publish — staging itself fences
        nothing, so a crashed audit job leaves the batch re-stageable.
        Staged entries carry the column-id mapping of the schema they were
        written under, so a schema evolution committed between stage and
        publish reconciles at read exactly like any old snapshot's files.
        """
        if not _WAP_ID_RE.match(wap_id or ""):
            raise EngineError(
                f"wap id {wap_id!r} invalid (want [A-Za-z0-9][A-Za-z0-9._-]*)"
            )
        if mode not in ("append", "delta"):
            raise EngineError(f"stage: mode must be append|delta, got {mode!r}")
        if batch_id is not None and batch_id in self.fenced_batch_ids():
            raise EngineError(f"batch {batch_id} is already fenced (exactly-once)")
        nb = self.num_buckets  # the numbering _prepare_df buckets under
        base_version = self.manifest()["version"]
        if mode == "append":
            entries = self._write_data_files(self._prepare_df(df))
            operation = "append"
        else:
            if op_col not in df.columns:
                df = df.withColumn(op_col, F.lit("upsert"))
            prepared = self._prepare_df(
                df.withColumn("_op", F.col(op_col)), extra_cols=("_op",)
            )
            entries = self._write_data_files(prepared, delta=True)
            operation = "delta-append"
        st = {
            "format_version": FORMAT_VERSION,
            "wap_id": wap_id,
            "operation": operation,
            "entries": entries,
            "batch_id": batch_id,
            "num_buckets": nb,
            "base_version": base_version,
            "summary": summary,
        }
        os.makedirs(self._staged_dir, exist_ok=True)
        target = self._staged_path(wap_id)
        tmp = target + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(st, f, indent=1)
        try:
            os.link(tmp, target)  # exclusive: double-stage of a wap id errors
        except FileExistsError:
            self._reclaim_entry_dirs(entries)  # our files are orphans — now
            raise EngineError(
                f"wap id {wap_id!r} is already staged (abort or publish it first)"
            ) from None
        finally:
            os.unlink(tmp)
        return st

    def read_staged(self, wap_id: str) -> DataFrame:
        """The logical table state AS IF the staged commit were published
        now: current entries plus the staged entries, MoR-resolved at
        bucket granularity like any read. This is the audit surface —
        validate THIS frame, then publish or abort."""
        st = self.staged_manifest(wap_id)
        return self._state_of_entries(self._entries() + st["entries"])

    def audit_staged(
        self,
        wap_id: str,
        *,
        min_rows: int | None = None,
        max_rows: int | None = None,
        not_null: Iterable[str] = (),
        unique_key: bool = True,
    ) -> dict:
        """Built-in audit over :meth:`read_staged`: ONE aggregate pass
        computes row count, distinct-key count and per-column null counts;
        expectations that fail land in ``failures`` (``ok`` False). A
        delta-mode stage is audited post-resolution (what would publish),
        so the duplicate-key check is really for append-mode stages into
        keyed tables — MoR upsert duplicates resolve away by design."""
        df = self.read_staged(wap_id)
        nn = [c for c in not_null]
        schema_cols = set(df.columns)
        bad = [c for c in nn if c not in schema_cols]
        if bad:
            raise EngineError(f"audit_staged: no column(s) {bad} in table schema")
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct(F.struct(*self.key_columns)).alias("dk"),
        ]
        for c in nn:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}"))
        row = df.agg(*aggs).collect()[0]  # bounded scalar probe
        rows, dk = row["rows"], row["dk"]
        null_counts = {c: int(row[f"n_{c}"]) for c in nn}
        failures = []
        if min_rows is not None and rows < min_rows:
            failures.append(f"rows {rows} < min_rows {min_rows}")
        if max_rows is not None and rows > max_rows:
            failures.append(f"rows {rows} > max_rows {max_rows}")
        if unique_key and rows != dk:
            failures.append(
                f"duplicate keys: {rows - dk} extra rows over "
                f"{dk} distinct {tuple(self.key_columns)}"
            )
        for c, n in null_counts.items():
            if n > 0:
                failures.append(f"{n} NULL values in {c}")
        return {
            "wap_id": wap_id,
            "rows": int(rows),
            "duplicate_keys": int(rows - dk),
            "null_counts": null_counts,
            "failures": failures,
            "ok": not failures,
        }

    def publish_staged(self, wap_id: str, retry_conflicts: int = 0) -> dict:
        """Make a staged commit visible (write-audit-publish stage 3).

        Metadata-only: the data files were written at stage time; publish
        attaches the staged entries to the CURRENT manifest via the same
        optimistic append-shaped rebase as multi-writer :meth:`append`
        (commits landed since stage are carried; a rebucket in between
        surfaces ConcurrentCommitError — the staged files' bucket ids are
        stale). The exactly-once batch fence fires HERE — publish is the
        visibility point. Crash-resume safe: if a previous publish of this
        wap id committed but crashed before removing the staged manifest,
        re-publish finds the committed snapshot (``summary.wap_id``) and
        just cleans up instead of double-appending. The same scan runs
        before EVERY rebase attempt, not just once: two publishers racing
        the same wap id otherwise both lose the manifest race to a third
        writer, rebase, and the loser re-attaches entries the winner
        already committed — the scan turns that into the idempotent
        no-op (and when ``batch_id`` is set, the fence catches it too)."""
        st = self.staged_manifest(wap_id)
        summary = {
            **(st.get("summary") or {}),
            "wap_id": wap_id,
            "staged_base_version": st["base_version"],
        }

        def already_published() -> dict | None:
            current = self.current_version() or 0
            for v in range(current, (st["base_version"] or 1) - 1, -1):
                if not self.manifest_exists(v):
                    return None  # older ones may be expired — base is the floor
                if (self.manifest(v).get("summary") or {}).get("wap_id") == wap_id:
                    return self.manifest(v)
            return None

        def attempt() -> dict:
            return already_published() or self._commit_append_shaped(
                st["operation"], st["entries"], st["batch_id"], summary,
                None, 0, st["num_buckets"],
            )

        m = self._retrying(retry_conflicts, attempt)
        try:
            os.unlink(self._staged_path(wap_id))
        except FileNotFoundError:
            pass  # a racing publisher of the same wap id cleaned it up
        return m

    def _reclaim_entry_dirs(self, entries: list[dict]) -> int:
        """Remove the per-write uuid directories holding ``entries``
        (every :meth:`_write_data_files` call writes into a fresh
        ``data/<uuid>`` dir, so nothing else can reference them) —
        including the writer's ``_SUCCESS``/``.crc`` droppings."""
        import shutil as _sh

        removed = 0
        for e in entries:
            removed += 1 if os.path.exists(os.path.join(self.path, e["path"])) else 0
        for rel in {os.path.join(*e["path"].split(os.sep)[:2]) for e in entries}:
            _sh.rmtree(os.path.join(self.path, rel), ignore_errors=True)
        return removed

    def abort_staged(self, wap_id: str) -> dict:
        """Discard a staged commit: delete its data files (referenced by
        no committed manifest — safe) and its staged manifest. The table
        is untouched; the wap id and batch id are both reusable.

        The staged-manifest unlink happens FIRST — it is the claim: a
        publish that starts after the abort fails cleanly with "no staged
        commit" instead of committing entries whose files are being
        deleted. (A publish already in flight when abort runs is an
        operator-coordination error — publish and abort are the two
        terminal actions on one wap id; pick one.)"""
        st = self.staged_manifest(wap_id)
        try:
            os.unlink(self._staged_path(wap_id))
        except FileNotFoundError:
            raise EngineError(
                f"no staged commit with wap id {wap_id!r} (already "
                "published or aborted by another operator)"
            ) from None
        removed = self._reclaim_entry_dirs(st["entries"])
        return {"wap_id": wap_id, "removed_files": removed}

    # -- maintenance ---------------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop old snapshot manifests and delete data files no newer
        snapshot references (Iceberg expire_snapshots / remove_orphan_files
        semantics). Keeps the newest ``keep_last`` versions readable; time
        travel before that window is gone. The current manifest is never
        touched, so readers of retained versions are unaffected. Tagged
        versions (:meth:`set_tag`) are retained — manifest and data files —
        regardless of age: a ref is a retention declaration (Iceberg's
        tag-aware expiry).
        """
        current = self.current_version()
        if current is None or keep_last < 1:
            raise EngineError("expire_snapshots: need an existing table, keep_last >= 1")
        cutoff = max(1, current - keep_last + 1)
        tagged = set(self.tags().values())
        keep_versions = set(range(cutoff, current + 1)) | tagged
        keep_paths: set[str] = set()
        for v in sorted(keep_versions):
            if self.manifest_exists(v):
                keep_paths.update(e["path"] for e in self.manifest(v)["files"])
        removed_files = 0
        expired = 0
        for v in range(1, cutoff):
            if v in tagged:
                continue
            mpath = os.path.join(self.manifest_dir, f"v{v:08d}.json")
            if not os.path.exists(mpath):
                continue
            for e in self.manifest(v)["files"]:
                full = os.path.join(self.path, e["path"])
                if e["path"] not in keep_paths and os.path.exists(full):
                    os.unlink(full)
                    removed_files += 1
            os.unlink(mpath)
            expired += 1
            self._manifest_cache.pop(v, None)
        return {
            "expired_versions": expired,
            "removed_files": removed_files,
            "kept_from": cutoff,
        }

    def remove_orphan_files(self, older_than_seconds: float = 3600.0) -> dict:
        """Delete data files referenced by NO retained manifest — Iceberg
        ``remove_orphan_files`` semantics.

        A writer that crashes between its data-file write and the manifest
        commit leaves its uuid directory unreferenced forever: the atomic
        commit protocol makes that *safe* (no reader ever sees it) but not
        *free* (the bytes stay). Unreferenced files older than
        ``older_than_seconds`` are deleted; the age horizon protects
        in-flight writers whose commit has not landed yet (same guard as
        Iceberg's ``older_than``). Write-side droppings (``_SUCCESS``,
        ``.crc``) of committed snapshots count as orphans too — nothing
        reads them after commit.
        """
        import time as _t

        current = self.current_version()
        if current is None:
            raise EngineError("remove_orphan_files: need an existing table")
        referenced: set[str] = set()
        for v in range(1, current + 1):
            mpath = os.path.join(self.manifest_dir, f"v{v:08d}.json")
            if v in self._manifest_cache or os.path.exists(mpath):
                for e in self.manifest(v)["files"]:
                    referenced.add(e["path"])
                    if e.get("bloom"):
                        referenced.add(e["bloom"])
        # Staged (write-audit-publish) commits reference their files from
        # OUTSIDE the version namespace — unpublished, but not orphans.
        for st in self.staged():
            for e in st["entries"]:
                referenced.add(e["path"])
                if e.get("bloom"):
                    referenced.add(e["bloom"])
        now = _t.time()
        removed = 0
        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if rel in referenced:
                    continue
                try:
                    if now - os.path.getmtime(full) < older_than_seconds:
                        continue
                    os.unlink(full)
                    removed += 1
                except FileNotFoundError:
                    continue  # concurrent maintenance
        # prune now-empty uuid/bucket dirs (bottom-up)
        removed_dirs = 0
        for root, _dirs, _files in os.walk(self.data_dir, topdown=False):
            # re-listdir: children rmdir'd earlier in this bottom-up walk
            # still appear in the stale _dirs snapshot
            if root != self.data_dir and not os.listdir(root):
                try:
                    os.rmdir(root)
                    removed_dirs += 1
                except OSError:
                    pass
        return {"removed_files": removed, "removed_dirs": removed_dirs}

    def auto_maintain(
        self,
        *,
        max_delta_files: int = 4,
        target_rows: int = 1_000_000,
        keep_snapshots: int | None = None,
        retry_recompute: int = 2,
    ) -> dict:
        """Policy-driven maintenance pass — the standing loop a deployment
        cron-runs instead of hand-picking actions. Decides from
        :meth:`describe` metrics, runs only what the table needs, and
        reports every decision WITH its reason (including the skips):

        - any bucket holding > ``max_delta_files`` unmerged delta files
          → :meth:`compact` exactly those buckets (bounded write
          amplification: the backlog threshold is per bucket, so one hot
          bucket never triggers a table-wide rewrite);
        - buckets averaging under ``target_rows/2`` rows per base file
          → :meth:`rewrite_small_files` (its own ``min_files`` guard
          keeps healthy buckets untouched);
        - ``keep_snapshots`` set → :meth:`expire_snapshots` after the
          rewrites (their commits add versions; expiring last keeps the
          window meaningful).

        Each action retries around live ingest (``retry_recompute``) —
        the same standing-compactor contract as ``maintain --compact``."""
        actions: dict = {}
        backlog = self.delta_file_counts()
        hot = sorted(b for b, n in backlog.items() if n > max_delta_files)
        if hot:
            before = self.current_version()
            self.compact(buckets=hot, retry_recompute=retry_recompute)
            actions["compact"] = {
                "buckets": hot,
                "reason": f"delta backlog > {max_delta_files} files/bucket",
                "committed": self.current_version() != before,
            }
        else:
            actions["compact"] = {
                "skipped": f"max bucket backlog "
                f"{max(backlog.values(), default=0)} <= {max_delta_files}"
            }
        per_bucket: dict[int, list[int]] = {}
        for e in self._entries():
            if not e.get("delta"):
                per_bucket.setdefault(e["bucket"], []).append(e["rows"])
        frag = sorted(
            b
            for b, rows in per_bucket.items()
            if len(rows) >= 2 and sum(rows) / len(rows) < target_rows / 2
        )
        if frag:
            m = self.rewrite_small_files(
                target_rows=target_rows, buckets=frag,
                retry_recompute=retry_recompute,
            )
            actions["rewrite_small_files"] = {
                "buckets": frag,
                "reason": f"avg base file rows < {target_rows // 2}",
                "committed": m["operation"] == "rewrite",
            }
        else:
            actions["rewrite_small_files"] = {"skipped": "no fragmented buckets"}
        if keep_snapshots is not None:
            actions["expire_snapshots"] = self.expire_snapshots(
                keep_last=keep_snapshots
            )
        return actions

    # -- schema evolution ----------------------------------------------------------

    def add_column(self, name: str, type_ddl: str, batch_id: int | None = None) -> dict:
        """ADD COLUMN (backfilled as NULL on read — no data rewrite)."""
        m = self.manifest()
        if any(f["name"] == name for f in m["schema"]["fields"]):
            raise IncompatibleSchemaError(f"column {name} already exists")
        _type_from_ddl(type_ddl)  # validate
        fields = m["schema"]["fields"] + [
            {"id": m["schema"]["next_id"], "name": name, "type": type_ddl}
        ]
        schema = {"fields": fields, "next_id": m["schema"]["next_id"] + 1}
        return self._commit(
            "evolve",
            m["files"],
            batch_id,
            {"ddl": f"add {name} {type_ddl}"},
            None,
            schema,
            base=m,
        )

    def rename_column(self, old: str, new: str, batch_id: int | None = None) -> dict:
        """RENAME COLUMN (column-id mapping keeps old files readable)."""
        m = self.manifest()
        names = [f["name"] for f in m["schema"]["fields"]]
        if old not in names:
            raise IncompatibleSchemaError(f"no such column: {old}")
        if new in names:
            raise IncompatibleSchemaError(f"column {new} already exists")
        if old in m["key_columns"]:
            raise IncompatibleSchemaError(f"cannot rename key column {old}")
        fields = [
            {**f, "name": new} if f["name"] == old else f for f in m["schema"]["fields"]
        ]
        schema = {"fields": fields, "next_id": m["schema"]["next_id"]}
        return self._commit(
            "evolve",
            m["files"],
            batch_id,
            {"ddl": f"rename {old} -> {new}"},
            None,
            schema,
            base=m,
        )

    def drop_column(self, name: str, batch_id: int | None = None) -> dict:
        m = self.manifest()
        if name in m["key_columns"]:
            raise IncompatibleSchemaError(f"cannot drop key column {name}")
        fields = [f for f in m["schema"]["fields"] if f["name"] != name]
        if len(fields) == len(m["schema"]["fields"]):
            raise IncompatibleSchemaError(f"no such column: {name}")
        schema = {"fields": fields, "next_id": m["schema"]["next_id"]}
        return self._commit(
            "evolve",
            m["files"],
            batch_id,
            {"ddl": f"drop {name}"},
            None,
            schema,
            base=m,
        )

    def change_column_type(self, name: str, type_ddl: str, batch_id: int | None = None):
        """Arbitrary type changes are rejected — mutual-read incompatible.

        Mirrors the reference's exact failure for incompatible parquet merge
        schemas (HadoopParquetMergeJobConfigurator.java:118-121). The
        Iceberg-safe promotions are available as :meth:`widen_column`.
        """
        raise IncompatibleSchemaError(
            "Cannot merge files, the Avro schemas are not compatible."
        )

    def widen_column(
        self, name: str, type_ddl: str, batch_id: int | None = None
    ) -> dict:
        """Safe type promotion (Iceberg schema evolution: ``int -> long``,
        ``float -> double``, decimal precision growth at fixed scale) as a
        metadata-only commit — no data rewrite: the read path already
        casts every written column to the CURRENT declared type via the
        column-id mapping, and a widening cast is total (never truncates,
        never throws under ANSI). Existing zone-map stats stay valid (the
        JSON bound encoding is width-agnostic) and bloom sidecars keep
        matching (int kinds normalize to int64, float kinds to float64 on
        both build and probe sides).

        KEY columns are refused: ``xxhash64`` hashes by physical width,
        so widening a key would silently re-route every row's bucket —
        that migration is :meth:`rebucket`-grade, not metadata."""
        m = self.manifest()
        field = next(
            (f for f in m["schema"]["fields"] if f["name"] == name), None
        )
        if field is None:
            raise IncompatibleSchemaError(f"no such column: {name}")
        if name in m["key_columns"]:
            raise IncompatibleSchemaError(
                f"cannot widen key column {name}: bucket hashing is "
                "width-dependent (use rebucket-grade migration)"
            )
        old_t = _type_from_ddl(field["type"])
        new_t = _type_from_ddl(type_ddl)
        ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ok = False
        if isinstance(old_t, ints) and isinstance(new_t, ints):
            ok = ints.index(type(old_t)) < ints.index(type(new_t))
        elif isinstance(old_t, T.FloatType) and isinstance(new_t, T.DoubleType):
            ok = True
        elif isinstance(old_t, T.DecimalType) and isinstance(new_t, T.DecimalType):
            ok = (
                new_t.scale == old_t.scale
                and new_t.precision > old_t.precision
            )
        if not ok:
            raise IncompatibleSchemaError(
                f"widen_column: {field['type']} -> {type_ddl} is not a safe "
                "promotion (allowed: int-family widening, float -> double, "
                "decimal precision growth at fixed scale)"
            )
        fields = [
            {**f, "type": type_ddl} if f["name"] == name else f
            for f in m["schema"]["fields"]
        ]
        schema = {"fields": fields, "next_id": m["schema"]["next_id"]}
        return self._commit(
            "evolve",
            m["files"],
            batch_id,
            {"ddl": f"widen {name} {field['type']} -> {type_ddl}"},
            None,
            schema,
            base=m,
        )

    def export_iceberg(
        self, dest: str | None = None, version: int | None = None
    ) -> str:
        """Materialize this snapshot as Apache Iceberg v2 table metadata
        (metadata-only — points at the existing parquet); returns the
        written ``metadata.json`` path. See lake/iceberg_export.py."""
        from sqoop_spark.lake.iceberg_export import export_iceberg

        return export_iceberg(self, dest, version)

    def export_symlink_manifest(
        self, dest: str | None = None, version: int | None = None
    ) -> str:
        """Write a Presto/Athena/Hive symlink-format manifest (one data
        file URI per line) for this snapshot; returns the manifest file
        path. See lake/symlink_export.py."""
        from sqoop_spark.lake.symlink_export import export_symlink_manifest

        return export_symlink_manifest(self, dest, version)
