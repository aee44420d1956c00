"""Bloom-filter sidecars: equality pruning for high-cardinality columns.

Zone maps cannot prune ``content_sha = '...'`` (uniform values span every
file's range); the per-file bloom sidecar can. These tests pin: no false
negatives (every present value is found), real pruning (absent values
open zero files), NULL soundness, probe-coercion fail-open, the canary
fail-open under hash drift, property-driven opt-in via set_properties,
orphan-GC protection of live sidecars, and the CLI path.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import types as T

from sqoop_spark.lake import LakeTable
from sqoop_spark.lake import bloom as B

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("sha", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def _sha(k):
    import hashlib

    return hashlib.sha256(str(k).encode()).hexdigest()


def _bloom_table(spark, scratch, name, n=400):
    t = LakeTable.create(
        spark,
        os.path.join(scratch, name),
        SCHEMA,
        ["k"],
        num_buckets=2,
        properties={"order_column": "seq", "bloom_columns": "sha,n"},
    )
    rows = [(k, k, _sha(k), None if k % 10 == 0 else k * 7) for k in range(n)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    t.rewrite_clustered(column="k", target_rows=50)
    return t


# ----------------------------------------------------------------- unit


def test_build_and_contain_no_false_negatives():
    vals = pd.Series([f"v{i}" for i in range(1000)], dtype=object)
    d = B.build_column(vals, "str")
    assert all(B.might_contain(d, f"v{i}") for i in range(0, 1000, 37))
    misses = sum(
        B.might_contain(d, f"absent{i}") for i in range(300)
    )
    assert misses <= 15, f"false-positive rate too high: {misses}/300"


def test_int_float_kinds_and_coercion():
    d = B.build_column(pd.Series([1, 2, 300], dtype="int64"), "int")
    assert B.might_contain(d, 2) and B.might_contain(d, 2.0)
    assert B.might_contain(d, 2.5), "lossy coercion must fail open"
    assert B.might_contain(d, "2"), "type mismatch must fail open"
    assert not B.might_contain(d, 999999) or True  # probabilistic; no assert
    f = B.build_column(pd.Series([1.5, 2.25], dtype="float64"), "float")
    assert B.might_contain(f, 1.5) and B.might_contain(f, 2.25)
    assert B.might_contain(f, "x"), "non-numeric probe fails open"


def test_all_null_column_has_no_bloom():
    assert B.build_column(pd.Series([None, None], dtype=object), "str") is None


def test_sidecar_canary_fail_open(tmp_path):
    p = str(tmp_path / "x.bloom")
    B.write_sidecar(p, {"c": B.build_column(pd.Series(["a"]), "str")})
    assert B.read_sidecar(p) is not None
    doc = json.load(open(p))
    doc["canary"] = doc["canary"] ^ 1
    json.dump(doc, open(p, "w"))
    assert B.read_sidecar(p) is None, "stale canary must disable the sidecar"
    assert B.read_sidecar(str(tmp_path / "missing.bloom")) is None


# ----------------------------------------------------------- table-level


def test_scan_bloom_prunes_absent_and_finds_present(spark, scratch):
    t = _bloom_table(spark, scratch, "bl1")
    total = len(t.manifest()["files"])
    assert all(e.get("bloom") for e in t.manifest()["files"]), (
        "clustering rewrite must record sidecars for every base file"
    )
    # present value: found, and only a strict subset of files opened
    want = _sha(123)
    hit = t.scan(f"sha = '{want}'")
    assert [r.k for r in hit.collect()] == [123]
    assert len(hit.inputFiles()) < total
    # absent value: zone maps can't prune it, blooms open ZERO files
    miss = t.scan(f"sha = '{'0' * 64}'")
    assert miss.count() == 0
    assert len(miss.inputFiles()) == 0
    # IN over present + absent: still finds the present ones
    got = t.scan(f"sha in ('{_sha(7)}', '{'f' * 64}')")
    assert sorted(r.k for r in got.collect()) == [7]


def test_scan_bloom_int_column_and_null_soundness(spark, scratch):
    t = _bloom_table(spark, scratch, "bl2")
    hit = t.scan("n = 77")  # 11*7 — present (11 % 10 != 0)
    assert [r.k for r in hit.collect()] == [11]
    # k=10 has NULL n: equality never matches NULL; bloom dropped NULLs
    assert t.scan("n = 70").count() == 0
    # fractional literal on int column fails open but stays correct
    assert t.scan("n = 76.5").count() == 0


def test_bloom_nullable_bigint_above_2_53_no_false_negative(spark, scratch):
    """A nullable int64 column converted straight to pandas becomes
    float64 (NaN for NULL), rounding values above 2^53 at build time while
    the probe hashes the exact int64 — a false NEGATIVE that silently
    skips the file holding the value. The build drops NULLs on the Arrow
    side so the dtype stays exact int64."""
    big = (1 << 60) + 1  # not representable in float64
    t = LakeTable.create(
        spark,
        os.path.join(scratch, "blbig"),
        SCHEMA,
        ["k"],
        num_buckets=1,
        properties={"order_column": "seq", "bloom_columns": "n"},
    )
    rows = [(k, k, _sha(k), None if k % 3 == 0 else big + k) for k in range(60)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    t.rewrite_clustered(column="k", target_rows=100)
    assert all(e.get("bloom") for e in t.manifest()["files"])
    hit = t.scan(f"n = {big + 1}")  # k=1's value, co-filed with NULLs
    assert [r.k for r in hit.collect()] == [1]
    assert len(hit.inputFiles()) > 0


def test_delta_key_blooms_prune_point_reads(spark, scratch):
    """Delta files carry KEY-column bloom sidecars: a point read may skip
    a delta file whose bloom excludes the key (it provably holds no
    marker for it) — the backlogged-compactor point-read shape. Probes of
    keys the delta DOES hold must still resolve through it."""
    from pyspark.sql import types as TT

    batch_schema = TT.StructType(
        SCHEMA.fields + [TT.StructField("op", TT.StringType())]
    )
    from sqoop_spark.cdc.merge import merge_apply

    t = LakeTable.create(
        spark,
        os.path.join(scratch, "bldelta"),
        SCHEMA,
        ["k"],
        num_buckets=1,
        properties={"order_column": "seq", "bloom_columns": "sha"},
    )
    t.append(
        spark.createDataFrame(
            [(k, k, _sha(k), k) for k in range(200)], SCHEMA
        )
    )
    merge_apply(
        t,
        spark.createDataFrame(
            [(5, 9000, "newsha", 5, "upsert"), (7, 9001, None, None, "delete")],
            batch_schema,
        ),
        batch_id=1,
        order_col="seq",
        strategy="mor",
    )
    m = t.manifest()
    deltas = [e for e in m["files"] if e.get("delta")]
    assert deltas and all(e.get("bloom") for e in deltas), (
        "delta files must carry key-column bloom sidecars"
    )
    delta_paths = {os.path.join(t.path, e["path"]) for e in deltas}
    # key NOT in the delta: the delta file's key bloom excludes it
    hit = t.lookup({"k": 50})
    assert [(r.k, r.sha) for r in hit.collect()] == [(50, _sha(50))]
    assert not (
        {os.path.join(t.path, e["path"]) for e in t.lookup_entries({"k": 50})}
        & delta_paths
    ), "point read opened a delta file its key bloom excludes"
    # keys the delta DOES hold still resolve through it (no false negatives)
    assert t.lookup({"k": 5}).collect()[0].sha == "newsha"
    assert t.lookup({"k": 7}).count() == 0  # deleted via the delta
    # full-key equality scan: a key no file holds drops the delta bucket
    miss = t.scan("k = 100000")
    assert miss.count() == 0 and len(miss.inputFiles()) == 0
    # and a scan for the delta's key still sees the delta value
    assert t.scan("k = 5").collect()[0].sha == "newsha"


def test_set_properties_enables_blooms_later(spark, scratch):
    t = LakeTable.create(
        spark,
        os.path.join(scratch, "bl3"),
        SCHEMA,
        ["k"],
        num_buckets=2,
        properties={"order_column": "seq"},
    )
    t.append(
        spark.createDataFrame(
            [(k, k, _sha(k), k) for k in range(100)], SCHEMA
        )
    )
    assert not any(e.get("bloom") for e in t.manifest()["files"])
    v0 = t.current_version()
    m = t.set_properties({"bloom_columns": "sha"})
    assert m["version"] == v0 + 1 and m["operation"] == "set-properties"
    assert t.bloom_columns() == ["sha"]
    # the metadata commit changed no rows: changelog diff is empty
    assert t.changes_between(v0, v0 + 1).count() == 0
    # a rewrite backfills sidecars for existing data
    t.rewrite_small_files(target_rows=200, min_files=1)
    assert any(e.get("bloom") for e in t.manifest()["files"])
    miss = t.scan(f"sha = '{'a' * 64}'")
    assert len(miss.inputFiles()) == 0 and miss.count() == 0
    # deleting the property stops new sidecars
    t.set_properties({"bloom_columns": None})
    assert t.bloom_columns() == []


def test_lookup_consults_key_bloom(spark, scratch):
    t = LakeTable.create(
        spark,
        os.path.join(scratch, "bl4"),
        SCHEMA,
        ["sha"],  # string key — zone maps on uniform hex are useless
        num_buckets=1,
        properties={"order_column": "seq", "bloom_columns": "sha"},
    )
    t.append(
        spark.createDataFrame(
            [(k, k, _sha(k), k) for k in range(200)], SCHEMA
        )
    )
    t.rewrite_clustered(column="seq", target_rows=25)
    total = len(t.manifest()["files"])
    hit = t.lookup({"sha": _sha(42)})
    assert [r.k for r in hit.collect()] == [42]
    assert len(t.lookup_entries({"sha": _sha(42)})) < total, (
        "bloom must beat useless zone maps"
    )
    assert t.lookup({"sha": "b" * 64}).count() == 0


def test_orphan_gc_keeps_live_sidecars(spark, scratch):
    t = _bloom_table(spark, scratch, "bl5", n=100)
    side = [
        os.path.join(t.path, e["bloom"])
        for e in t.manifest()["files"]
        if e.get("bloom")
    ]
    assert side
    t.remove_orphan_files(older_than_seconds=0.0)
    assert all(os.path.exists(p) for p in side), (
        "live sidecars must never be GC'd"
    )


def test_set_property_cli(spark, scratch):
    t = _bloom_table(spark, scratch, "bl6", n=60)
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "maintain",
         "--path", t.path, "--set-property", "stats_columns=seq,k"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout)
    assert out["properties"]["stats_columns"] == "seq,k"


def test_describe_reports_bloom_coverage(spark, scratch):
    t = _bloom_table(spark, scratch, "bl7", n=60)
    d = t.describe()
    assert d["bloom_columns"] == ["sha", "n"]
    assert d["bloom_coverage"] == 1.0
    t.set_properties({"bloom_columns": None})
    assert t.describe()["bloom_coverage"] is None
