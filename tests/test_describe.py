"""LakeTable.describe / the `describe` CLI: metadata-only table health.

The operational dashboard row a 100 TB deployment watches: delta
backlog (compaction signal), zone-map coverage (what incremental reads
and lookups can prune on), fence/tag/staged state — all computed from
the manifest without a Spark session or any data IO.
"""

import json
import os
import subprocess
import sys

from pyspark.sql import types as T

from sqoop_spark.lake import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table(spark, scratch, name, buckets=4):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, name), schema, ["k"],
        num_buckets=buckets, properties={"order_column": "seq"},
    )
    return t, schema


def test_describe_counts_and_backlog(spark, scratch):
    t, schema = _table(spark, scratch, "d1")
    t.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(20)], schema
    ), batch_id=1)
    d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append_delta(spark.createDataFrame(
        [(3, 100, "x", "upsert"), (4, 100, "y", "upsert")], d
    ), batch_id=2)
    rep = t.describe()
    assert rep["version"] == t.current_version()
    assert rep["rows"] == 22 and rep["num_buckets"] == 4
    assert rep["files"]["delta"] >= 1 and rep["files"]["tombstone"] == 0
    assert rep["files"]["total"] == (
        rep["files"]["base"] + rep["files"]["delta"]
    )
    assert rep["delta_buckets"] >= 1
    assert rep["max_bucket_delta_files"] >= 1
    assert rep["bytes"] > 0
    assert rep["fenced_batches"] == 2
    # key + order columns are zone-mapped on every file written now
    assert rep["zone_map_coverage"]["k"] == 1.0
    assert rep["zone_map_coverage"]["seq"] == 1.0
    # no spark session required
    t2 = LakeTable(None, t.path)
    assert t2.describe()["rows"] == 22


def test_describe_reflects_tags_staged_and_versions(spark, scratch):
    t, schema = _table(spark, scratch, "d2")
    t.append(spark.createDataFrame([(1, 1, "a")], schema))
    t.set_tag("gold")
    t.stage(spark.createDataFrame([(2, 2, "b")], schema), "pending")
    rep = t.describe()
    assert rep["tags"] == {"gold": t.current_version()}
    assert rep["staged_wap_ids"] == ["pending"]
    assert rep["snapshots_retained"] == t.current_version()
    # describing an old snapshot reports ITS file set
    old = t.describe(version=1)
    assert old["version"] == 1 and old["rows"] == 0


def test_auto_maintain_compacts_backlogged_buckets_only(spark, scratch):
    t, schema = _table(spark, scratch, "a1", buckets=2)
    t.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(20)], schema
    ))
    d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    # 5 delta commits targeting key 0's bucket only → one hot bucket
    for i in range(5):
        t.append_delta(spark.createDataFrame(
            [(0, 100 + i, f"u{i}", "upsert")], d
        ))
    hot = t.bucket_of({"k": 0})
    assert t.delta_file_counts()[hot] == 5
    rep = t.auto_maintain(max_delta_files=4)
    assert rep["compact"]["buckets"] == [hot] and rep["compact"]["committed"]
    assert t.delta_file_counts().get(hot, 0) == 0
    assert {r.k: r.v for r in t.read().collect()}[0] == "u4"
    # second pass: nothing to do, reasons reported
    rep2 = t.auto_maintain(max_delta_files=4)
    assert "skipped" in rep2["compact"]
    assert "skipped" in rep2["rewrite_small_files"]


def test_auto_maintain_binpacks_fragmented_buckets(spark, scratch):
    t, schema = _table(spark, scratch, "a2", buckets=1)
    for i in range(4):  # 4 tiny base files in one bucket
        t.append(spark.createDataFrame(
            [(10 * i + j, j, "x") for j in range(5)], schema
        ))
    assert t.describe()["files"]["base"] == 4
    rep = t.auto_maintain(target_rows=1000)
    assert rep["rewrite_small_files"]["committed"]
    assert t.describe()["files"]["base"] == 1
    assert t.total_rows() == 20


def test_auto_maintain_cli(spark, scratch):
    t, schema = _table(spark, scratch, "a3")
    t.append(spark.createDataFrame([(1, 1, "a")], schema))
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "maintain",
         "--path", t.path, "--auto", "--expire-snapshots", "5"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    rep = json.loads(r.stdout.strip().splitlines()[-1])["auto"]
    assert "skipped" in rep["compact"]
    assert rep["expire_snapshots"]["expired_versions"] == 0


def test_describe_cli(spark, scratch):
    t, schema = _table(spark, scratch, "d3")
    t.append(spark.createDataFrame([(1, 1, "a")], schema))
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "describe", "--path", t.path],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    rep = json.loads(r.stdout)
    assert rep["rows"] == 1 and rep["files"]["total"] >= 1
