"""Write-audit-publish staged commits (Iceberg's wap.id / cherry-pick).

An ingest job stages its batch as a commit NO reader sees, an audit
validates the would-be table state, and publish makes it visible as a
metadata-only operation — the lakehouse pattern for "don't let a bad
batch into the serving table". The reference has no analog (Sqoop
imports land directly); semantics follow Iceberg's WAP flow with this
engine's commit protocol: staged manifests live outside the version
namespace, publish rides the append-shaped optimistic rebase, and the
exactly-once batch fence fires at publish (the visibility point).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.errors import ConcurrentCommitError, EngineError
from sqoop_spark.lake import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seq_table(spark, scratch, name, buckets=4):
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
    t.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(10)], schema
    ), batch_id=1)
    return t, schema


def _rows(t):
    return {r.k: (r.seq, r.v) for r in t.read().collect()}


def _batch(spark, schema, rows):
    return spark.createDataFrame(rows, schema)


# -- stage invisibility -------------------------------------------------------


def test_stage_is_invisible_until_publish(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w1")
    v0 = t.current_version()
    st = t.stage(_batch(spark, schema, [(100, 100, "new")]), "audit-1",
                 batch_id=2)
    assert st["operation"] == "append" and st["base_version"] == v0
    assert t.current_version() == v0, "stage must not advance the version"
    assert 100 not in _rows(t), "stage must not be readable"
    assert 2 not in t.fenced_batch_ids(), "stage must not fence the batch"
    assert [s["wap_id"] for s in t.staged()] == ["audit-1"]
    # read_staged shows the would-be state; the table itself is untouched
    staged_keys = {r.k for r in t.read_staged("audit-1").collect()}
    assert staged_keys == set(range(10)) | {100}
    m = t.publish_staged("audit-1")
    assert m["version"] == v0 + 1
    assert m["summary"]["wap_id"] == "audit-1"
    assert 100 in _rows(t) and 2 in t.fenced_batch_ids()
    assert t.staged() == [], "publish must clean the staged manifest"


def test_stage_delta_mode_resolves_in_staged_read(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w2")
    d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    batch = spark.createDataFrame(
        [(3, 50, "upd", "upsert"), (4, 50, None, "delete"),
         (200, 50, "ins", "upsert")], d,
    )
    t.stage(batch, "delta-1", mode="delta", batch_id=2)
    got = {r.k: (r.seq, r.v) for r in t.read_staged("delta-1").collect()}
    assert got[3] == (50, "upd") and got[200] == (50, "ins")
    assert 4 not in got, "staged delete must resolve away in the audit read"
    assert _rows(t)[4] == (4, "v4"), "table itself unchanged"
    t.publish_staged("delta-1")
    final = _rows(t)
    assert final[3] == (50, "upd") and 4 not in final and 200 in final


def test_double_stage_same_wap_id_errors_and_reclaims(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w3")
    t.stage(_batch(spark, schema, [(100, 100, "a")]), "dup")
    files_before = sum(len(fs) for _, _, fs in os.walk(t.data_dir))
    with pytest.raises(EngineError, match="already staged"):
        t.stage(_batch(spark, schema, [(101, 101, "b")]), "dup")
    files_after = sum(len(fs) for _, _, fs in os.walk(t.data_dir))
    assert files_after == files_before, "loser's data files must be reclaimed"
    assert len(t.staged()) == 1


def test_bad_wap_id_rejected(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w4")
    for bad in ("", "../escape", "a/b", ".hidden"):
        with pytest.raises(EngineError, match="invalid"):
            t.stage(_batch(spark, schema, [(1, 1, "x")]), bad)


# -- audit --------------------------------------------------------------------


def test_audit_staged_metrics_and_failures(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w5")
    # duplicate key 3 (append-shaped stage on a keyed table) + a NULL v
    t.stage(_batch(spark, schema, [(3, 99, None), (300, 300, "ok")]), "bad")
    rep = t.audit_staged("bad", not_null=["v"], min_rows=100)
    assert rep["rows"] == 12 and rep["duplicate_keys"] == 1
    assert rep["null_counts"] == {"v": 1}
    assert not rep["ok"] and len(rep["failures"]) == 3  # dup, null, min_rows
    # audit failure -> abort; the table is exactly what it was
    v0 = t.current_version()
    res = t.abort_staged("bad")
    assert res["removed_files"] >= 1
    assert t.current_version() == v0 and set(_rows(t)) == set(range(10))
    assert t.staged() == []
    with pytest.raises(EngineError, match="no staged commit"):
        t.read_staged("bad")


def test_audit_staged_ok_path(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w6")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "good")
    rep = t.audit_staged("good", not_null=["v", "k"], min_rows=11, max_rows=11)
    assert rep["ok"] and rep["failures"] == []


def test_audit_unknown_column_errors(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w7")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "g")
    with pytest.raises(EngineError, match="no column"):
        t.audit_staged("g", not_null=["nope"])


# -- publish: fence, rebase, races -------------------------------------------


def test_publish_enforces_fence_authoritatively(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w8")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "fenced", batch_id=7)
    # batch 7 lands through the normal path while the audit is running
    t.append(_batch(spark, schema, [(500, 500, "winner")]), batch_id=7)
    with pytest.raises(EngineError, match="already fenced"):
        t.publish_staged("fenced")
    # staged manifest survives the refused publish (operator decides)
    assert [s["wap_id"] for s in t.staged()] == ["fenced"]
    # and stage itself fails fast on an already-fenced batch id
    with pytest.raises(EngineError, match="already fenced"):
        t.stage(_batch(spark, schema, [(1, 1, "y")]), "late", batch_id=7)


def test_publish_rebases_over_concurrent_commit(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w9")
    t.stage(_batch(spark, schema, [(100, 100, "staged")]), "rc", batch_id=2)
    t.append(_batch(spark, schema, [(200, 200, "racer")]), batch_id=3)
    m = t.publish_staged("rc", retry_conflicts=2)
    assert m["summary"]["staged_base_version"] == m["version"] - 2
    rows = _rows(t)
    assert rows[100] == (100, "staged") and rows[200] == (200, "racer")


def test_publish_after_rebucket_surfaces_stale_layout(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w10")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "rb")
    t.rebucket(8)
    with pytest.raises(ConcurrentCommitError, match="rebucket"):
        t.publish_staged("rb", retry_conflicts=2)


def test_publish_crash_resume_is_idempotent(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w11")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "crash", batch_id=2)
    # simulate a crash between the commit and the staged-manifest cleanup
    staged_path = t._staged_path("crash")
    keep = staged_path + ".bak"
    shutil.copy(staged_path, keep)
    m1 = t.publish_staged("crash")
    os.rename(keep, staged_path)  # the "crashed" process left it behind
    m2 = t.publish_staged("crash")  # resume: must NOT double-append
    assert m2["version"] == m1["version"]
    assert t.current_version() == m1["version"]
    assert not os.path.exists(staged_path)
    assert sorted(_rows(t)) == sorted(set(range(10)) | {100})


def test_staged_survives_schema_evolution(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w12")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "evo", batch_id=2)
    t.add_column("extra", "string")
    m = t.publish_staged("evo")
    assert m["version"] == t.current_version()
    row = {r.k: r for r in t.read().collect()}[100]
    assert row.v == "x" and row.extra is None, (
        "staged file written under the old schema must backfill NULL"
    )


def test_publish_idempotent_without_batch_id(spark, scratch):
    # the racing-publishers shape: no fence to catch a double apply, so
    # the already-published scan (run before every rebase attempt) is
    # the only guard
    t, schema = _seq_table(spark, scratch, "w17")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "nofence")
    staged_path = t._staged_path("nofence")
    shutil.copy(staged_path, staged_path + ".bak")
    m1 = t.publish_staged("nofence")
    os.rename(staged_path + ".bak", staged_path)  # loser's stale view
    m2 = t.publish_staged("nofence", retry_conflicts=2)
    assert m2["version"] == m1["version"]
    rows = [r for r in t.read().collect() if r.k == 100]
    assert len(rows) == 1, "double publish must not duplicate rows"


def test_abort_after_publish_fails_cleanly(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w18")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "term")
    m = t.publish_staged("term")
    with pytest.raises(EngineError, match="no staged commit"):
        t.abort_staged("term")
    # the published data is intact
    assert 100 in {r.k for r in t.read(m["version"]).collect()}


# -- maintenance interactions -------------------------------------------------


def test_orphan_gc_spares_staged_files(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w13")
    st = t.stage(_batch(spark, schema, [(100, 100, "x")]), "gc")
    t.remove_orphan_files(older_than_seconds=0.0)
    for e in st["entries"]:
        assert os.path.exists(os.path.join(t.path, e["path"])), (
            "staged data files are not orphans (droppings like _SUCCESS are)"
        )
    m = t.publish_staged("gc")
    assert {r.k for r in t.read(m["version"]).collect()} >= {100}


def test_abort_then_orphan_gc_leaves_clean_tree(spark, scratch):
    t, schema = _seq_table(spark, scratch, "w14")
    t.stage(_batch(spark, schema, [(100, 100, "x")]), "ab")
    st = t.stage(_batch(spark, schema, [(100, 100, "x")]), "ab2")
    t.abort_staged("ab")
    t.abort_staged("ab2")
    t.remove_orphan_files(older_than_seconds=0.0)
    # abort removed the staged uuid dirs wholesale; only committed data
    # remains and every committed entry is still present
    for e in st["entries"]:
        assert not os.path.exists(os.path.join(t.path, e["path"]))
    for e in t.manifest()["files"]:
        assert os.path.exists(os.path.join(t.path, e["path"]))
    assert set(_rows(t)) == set(range(10))


# -- CLI ----------------------------------------------------------------------


def test_wap_cli_roundtrip(spark, scratch, tmp_path):
    t, schema = _seq_table(spark, scratch, "w15")
    src = str(tmp_path / "batch.parquet")
    spark.createDataFrame([(100, 100, "cli")], schema).write.parquet(src)

    def run(*argv):
        return subprocess.run(
            [sys.executable, "-m", "sqoop_spark.cli", *argv],
            capture_output=True, text=True, cwd=REPO,
        )

    r = run("wap", "stage", "--path", t.path, "--wap-id", "cli-1",
            "--source", src, "--batch-id", "9")
    assert r.returncode == 0, r.stderr
    assert json.loads(r.stdout.strip().splitlines()[-1])["rows"] == 1
    r = run("wap", "list", "--path", t.path)
    assert json.loads(r.stdout.strip().splitlines()[-1])[0]["wap_id"] == "cli-1"
    r = run("wap", "audit", "--path", t.path, "--wap-id", "cli-1",
            "--not-null", "v", "--min-rows", "11")
    assert r.returncode == 0, r.stdout + r.stderr
    assert json.loads(r.stdout.strip().splitlines()[-1])["ok"] is True
    r = run("wap", "publish", "--path", t.path, "--wap-id", "cli-1")
    assert r.returncode == 0, r.stderr
    t2 = LakeTable.load(spark, t.path)
    assert 100 in {r.k for r in t2.read().collect()}
    assert 9 in t2.fenced_batch_ids()


def test_wap_cli_audit_failure_exit_code(spark, scratch, tmp_path):
    t, schema = _seq_table(spark, scratch, "w16")
    src = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(3, 99, None)], schema).write.parquet(src)

    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "wap", "stage",
         "--path", t.path, "--wap-id", "bad", "--source", src],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "wap", "audit",
         "--path", t.path, "--wap-id", "bad", "--not-null", "v"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 1, "failed audit must exit non-zero"
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert not rep["ok"] and rep["duplicate_keys"] == 1
