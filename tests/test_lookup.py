"""Point lookup: key → rows via bucket pruning + key zone-map file skip.

At 100 TB a key lookup (GDPR subject access, upsert verification,
debugging) must not scan the table: the merge key hashes to ONE bucket
(the Iceberg bucket-transform partition prune), and within that bucket
the per-file min/max recorded for the key columns skips files whose
range cannot hold the key — sound because base files are written sorted
by the key columns, and fail-open where stats are absent. Delta files
prune by the same bounds, so MoR resolution stays correct: a pruned
delta cannot contain the key.
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from sqoop_spark.errors import EngineError
from sqoop_spark.lake import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table(spark, scratch, name, buckets=4):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, name), schema, ["k"],
        num_buckets=buckets, properties={"order_column": "seq"},
    )
    return t, schema


def test_lookup_basic_and_missing(spark, scratch):
    t, schema = _table(spark, scratch, "l1")
    t.append(spark.createDataFrame(
        [(f"key{i}", i, f"v{i}") for i in range(20)], schema
    ))
    got = t.lookup({"k": "key7"}).collect()
    assert len(got) == 1 and got[0].v == "v7" and got[0].seq == 7
    assert t.lookup({"k": "nope"}).collect() == []


def test_lookup_requires_full_key(spark, scratch):
    t, schema = _table(spark, scratch, "l2")
    t.append(spark.createDataFrame([("a", 1, "x")], schema))
    with pytest.raises(EngineError, match="exactly the key columns"):
        t.lookup({"wrong": "a"})
    with pytest.raises(EngineError, match="exactly the key columns"):
        t.lookup({})


def test_lookup_sees_mor_deltas(spark, scratch):
    t, schema = _table(spark, scratch, "l3")
    t.append(spark.createDataFrame(
        [(f"key{i}", i, f"v{i}") for i in range(10)], schema
    ))
    d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append_delta(spark.createDataFrame(
        [("key3", 100, "newer", "upsert"), ("key4", 100, None, "delete")], d
    ))
    assert t.lookup({"k": "key3"}).collect()[0].v == "newer"
    assert t.lookup({"k": "key4"}).collect() == []
    assert t.lookup({"k": "key5"}).collect()[0].v == "v5"


def test_lookup_prunes_files_within_bucket(spark, scratch):
    # num_buckets=1 forces every file into one bucket; two appends with
    # disjoint key ranges give two base files whose key zone maps are
    # disjoint — the lookup must open only the matching file.
    t, schema = _table(spark, scratch, "l4", buckets=1)
    t.append(spark.createDataFrame(
        [(f"aaa{i}", i, "lo") for i in range(50)], schema
    ))
    t.append(spark.createDataFrame(
        [(f"zzz{i}", i, "hi") for i in range(50)], schema
    ))
    assert len(t.manifest()["files"]) >= 2
    opened = t.lookup_entries({"k": "aaa7"})
    assert len(opened) < len(t.manifest()["files"]), (
        "key zone maps must skip the disjoint-range file"
    )
    assert t.lookup({"k": "aaa7"}).collect()[0].v == "lo"


def test_lookup_fail_open_without_key_stats(spark, scratch):
    t, schema = _table(spark, scratch, "l5", buckets=1)
    t.append(spark.createDataFrame(
        [(f"key{i}", i, f"v{i}") for i in range(10)], schema
    ))
    # simulate a table written before key stats existed: strip them
    v = t.current_version()
    mpath = os.path.join(t.manifest_dir, f"v{v:08d}.json")
    with open(mpath) as f:
        m = json.load(f)
    for e in m["files"]:
        e.pop("stats", None)
    os.unlink(mpath)
    with open(mpath, "w") as f:
        json.dump(m, f)
    t2 = LakeTable.load(spark, t.path)
    got = t2.lookup({"k": "key7"}).collect()
    assert len(got) == 1 and got[0].v == "v7", "absent stats must fail open"


def test_lookup_null_key_value_rejected(spark, scratch):
    t, schema = _table(spark, scratch, "l6")
    t.append(spark.createDataFrame([("a", 1, "x")], schema))
    with pytest.raises(EngineError, match="NULL"):
        t.lookup({"k": None})


def test_lookup_multi_column_key(spark, scratch):
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "l7"), schema, ["repo", "path"],
        num_buckets=8, properties={"order_column": "seq"},
    )
    rows = [(f"org/r{i % 3}", f"src/f{i}.py", i, f"v{i}") for i in range(30)]
    t.append(spark.createDataFrame(rows, schema))
    got = t.lookup({"repo": "org/r1", "path": "src/f10.py"}).collect()
    assert len(got) == 1 and got[0].v == "v10"
    # key order in the dict must not matter
    got2 = t.lookup({"path": "src/f10.py", "repo": "org/r1"}).collect()
    assert got2 == got


def test_lookup_cli(spark, scratch):
    t, schema = _table(spark, scratch, "l8")
    t.append(spark.createDataFrame(
        [(f"key{i}", i, f"v{i}") for i in range(5)], schema
    ))
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "lookup",
         "--path", t.path, "--key", "k=key2"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    rows = [json.loads(line) for line in r.stdout.strip().splitlines()
            if line.startswith("{")]
    assert rows[-1]["v"] == "v2" and rows[-1]["seq"] == 2


def test_lookup_opens_exactly_its_entries(spark, scratch, monkeypatch):
    # lookup reads on the driver, so its frame lists no input files; the
    # file-skip contract is that it opens exactly lookup_entries — checked
    # by recording every pyarrow open, across a plain bucket, a bucket
    # with a live delta, and a compacted bucket with a retained tombstone
    import pyarrow.parquet as pq

    t, schema = _table(spark, scratch, "l9", buckets=1)
    t.append(spark.createDataFrame(
        [(f"aaa{i}", i, "lo") for i in range(50)], schema
    ))
    t.append(spark.createDataFrame(
        [(f"zzz{i}", i, "hi") for i in range(50)], schema
    ))
    d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    opened = []
    real = pq.ParquetFile

    def recording(path, *a, **kw):
        opened.append(path)
        return real(path, *a, **kw)

    def check(key, expect_rows):
        entries = t.lookup_entries({"k": key})
        opened.clear()
        monkeypatch.setattr(pq, "ParquetFile", recording)
        try:
            rows = [(r.k, r.seq, r.v) for r in t.lookup({"k": key}).collect()]
        finally:
            monkeypatch.setattr(pq, "ParquetFile", real)
        assert sorted(opened) == sorted(
            os.path.join(t.path, e["path"]) for e in entries
        )
        assert rows == expect_rows
        return entries

    assert len(check("aaa7", [("aaa7", 7, "lo")])) == 1
    t.append_delta(spark.createDataFrame(
        [("aaa7", 100, "new", "upsert"), ("aaa8", 100, None, "delete")], d
    ))
    entries = check("aaa7", [("aaa7", 100, "new")])
    assert any(e.get("delta") for e in entries)
    check("aaa8", [])
    check("zzz3", [("zzz3", 3, "hi")])
    t.compact()
    assert any(e.get("tombstone") for e in t.manifest()["files"])
    assert not any(e.get("tombstone") for e in check("aaa9", [("aaa9", 9, "lo")]))
    check("aaa8", [])
    t.append_delta(spark.createDataFrame([("aaa8", 50, "late", "upsert")], d))
    # an older event than the retained delete marker: the marker still wins
    assert any(e.get("tombstone") for e in check("aaa8", []))


@pytest.mark.parametrize(
    "dtype,key", [(T.StringType(), "key3"), (T.LongType(), 3)],
    ids=["string", "bigint"],
)
def test_lookup_collect_runs_no_spark_job(spark, scratch, dtype, key):
    from tests.test_bucket_hash import _jobs_in_group

    schema = T.StructType(
        [
            T.StructField("k", dtype),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "t"), schema, ["k"], num_buckets=4,
        properties={"order_column": "seq"},
    )
    mk = (lambda i: f"key{i}") if isinstance(dtype, T.StringType) else int
    t.append(spark.createDataFrame([(mk(i), i, f"v{i}") for i in range(8)], schema))
    d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append_delta(spark.createDataFrame([(key, 100, "new", "upsert")], d))
    for i, (k, want) in enumerate([(key, ["new"]), (mk(5), ["v5"]), (mk(99), [])]):
        rows, jobs = _jobs_in_group(
            spark, f"lookup-collect-{i}", lambda: t.lookup({"k": k}).collect()
        )
        assert ([r.v for r in rows], jobs) == (want, 0)
