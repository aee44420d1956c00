"""Each commit writes its manifest exactly once.

A merge's counters and per-bucket lineage go into the one exclusive link
of ``vNNNNNNNN.json``: no committed manifest is ever rewritten in place,
so a crash right after the link still leaves a snapshot that carries its
counters, and no reader can see two contents for one version.
"""

import os

import pytest
from pyspark.sql import functions as F

from sqoop_spark.cdc import CdcEngine
from sqoop_spark.datagen import synthesize_change_events
from sqoop_spark.lake import LakeTable


@pytest.fixture(scope="module")
def batches(spark):
    """[(batch_id, events of that batch)] in batch order."""
    ev = synthesize_change_events(spark, 3000, batch_size=1000).cache()
    bids = sorted(r[0] for r in ev.select("batch_id").distinct().collect())
    return [(b, ev.filter(F.col("batch_id") == b).drop("batch_id")) for b in bids]


def _manifest_files(table):
    d = table.manifest_dir
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


@pytest.fixture()
def linked(monkeypatch):
    """path -> the bytes of each manifest right after its link."""
    seen: dict[str, bytes] = {}
    link = LakeTable._write_manifest

    def recording(self, manifest):
        link(self, manifest)
        path = os.path.join(self.manifest_dir, f"v{manifest['version']:08d}.json")
        with open(path, "rb") as f:
            seen[path] = f.read()

    monkeypatch.setattr(LakeTable, "_write_manifest", recording)
    return seen


def test_committed_manifests_are_never_rewritten(spark, scratch, batches, linked):
    b, batch = batches[0]
    cow = CdcEngine.create_table(spark, os.path.join(scratch, "cow"), num_buckets=4)
    cow.apply_batch(batch, b)
    cow.apply_batch(batch.limit(0), 99)  # empty batch
    mor = CdcEngine.create_table(
        spark, os.path.join(scratch, "mor"), num_buckets=2,
        merge_strategy="mor", auto_compact_threshold=2,
    )
    for b, batch in batches[:2]:
        mor.apply_batch(batch, b)
    ops = [s.operation for s in mor.table.snapshots()]
    assert "compact" in ops, ops
    assert cow.table.manifest()["summary"].get("empty") is True
    on_disk = _manifest_files(cow.table) + _manifest_files(mor.table)
    assert sorted(linked) == on_disk
    for path in on_disk:
        with open(path, "rb") as f:
            assert f.read() == linked[path], path


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_crash_right_after_the_merge_link_keeps_counters(
    spark, scratch, batches, monkeypatch, strategy
):
    path = os.path.join(scratch, "t")
    eng = CdcEngine.create_table(
        spark, path, num_buckets=4, merge_strategy=strategy
    )
    b, batch = batches[0]
    n = batch.count()
    link = LakeTable._write_manifest

    def crash(self, manifest):
        link(self, manifest)
        if manifest["operation"] in ("merge", "delta-append"):
            raise RuntimeError("crash after the link")

    monkeypatch.setattr(LakeTable, "_write_manifest", crash)
    with pytest.raises(RuntimeError, match="crash after the link"):
        eng.apply_batch(batch, b)
    monkeypatch.undo()
    m = LakeTable.load(spark, path).manifest()
    assert m["operation"] == ("merge" if strategy == "cow" else "delta-append")
    assert m["lineage"]["counters"]["rows_in"] == n
    assert m["summary"]["rows_in"] == n
    assert m["lineage"]["buckets"]


def test_set_properties_commits_no_lineage(spark, scratch, batches):
    eng = CdcEngine.create_table(spark, os.path.join(scratch, "t"), num_buckets=4)
    eng.apply_batch(batches[0][1], batches[0][0])
    counters = eng.table.manifest()["lineage"]["counters"]
    assert counters["rows_in"] > 0
    m = eng.table.set_properties({"stats_columns": "event_seq"})
    assert m["operation"] == "set-properties"
    for got in (m, LakeTable.load(spark, eng.table.path).manifest()):
        assert got["lineage"] is None
        assert not set(got["summary"]) & set(counters), got["summary"]
