"""Merge-on-read strategy: delta appends, read-time resolution, compaction,
fencing — final state must be byte-identical to copy-on-write replay."""

import os

import pytest
from pyspark.sql import functions as F

from sqoop_spark.cdc import CdcEngine
from sqoop_spark.datagen import replay_oracle, synthesize_change_events
from sqoop_spark.errors import EngineError


def _final(engine):
    return (
        engine.table.read()
        .select("repo", "path", "content_sha", "event_seq")
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def events(spark):
    return synthesize_change_events(spark, 20000, batch_size=5000).cache()


def test_mor_matches_oracle_and_cow(spark, scratch, events):
    mor = CdcEngine.create_table(
        spark, os.path.join(scratch, "mor"), num_buckets=8, merge_strategy="mor"
    )
    cow = CdcEngine.create_table(
        spark, os.path.join(scratch, "cow"), num_buckets=8, merge_strategy="cow"
    )
    rm = mor.replay(events)
    rc = cow.replay(events)
    assert rm.events_seen == rc.events_seen == 20000
    oracle = replay_oracle(events.toPandas())[
        ["repo", "path", "content_sha", "event_seq"]
    ].reset_index(drop=True)
    got_mor, got_cow = _final(mor), _final(cow)
    assert got_mor.equals(oracle)
    assert got_cow.equals(oracle)
    # MoR wrote delta files; CoW wrote none
    assert mor.table.delta_file_counts()
    assert not cow.table.delta_file_counts()
    # delta volume is O(batch): every commit's delta rows ≤ its batch size
    for b in rm.batches:
        assert b.rows_applied <= 5000


def test_mor_compaction_preserves_state(spark, scratch, events):
    eng = CdcEngine.create_table(
        spark, os.path.join(scratch, "c"), num_buckets=8, merge_strategy="mor"
    )
    eng.replay(events)
    before = _final(eng)
    eng.compact()
    # all regular deltas collapsed; only tombstone markers may remain
    # (winning deletes retained so late out-of-order events can't resurrect)
    remaining = [
        e for e in eng.table.manifest()["files"]
        if e.get("delta") and not e.get("tombstone")
    ]
    assert not remaining
    assert _final(eng).equals(before)
    # compacting again is a no-op commit-wise (tombstone-only buckets skip)
    v = eng.table.current_version()
    eng.compact()
    assert eng.table.current_version() == v


def test_mor_auto_compaction(spark, scratch):
    events = synthesize_change_events(spark, 4000, batch_size=250)  # 16 batches
    eng = CdcEngine.create_table(
        spark,
        os.path.join(scratch, "ac"),
        num_buckets=4,
        merge_strategy="mor",
        auto_compact_threshold=5,
    )
    eng.replay(events)
    counts = eng.table.delta_file_counts()
    assert all(c < 5 for c in counts.values()), counts
    oracle = replay_oracle(events.toPandas())[
        ["repo", "path", "content_sha", "event_seq"]
    ].reset_index(drop=True)
    assert _final(eng).equals(oracle)


def test_mor_fencing_and_resume(spark, scratch):
    events = synthesize_change_events(spark, 6000, batch_size=2000)
    eng = CdcEngine.create_table(
        spark, os.path.join(scratch, "f"), num_buckets=4, merge_strategy="mor"
    )
    # apply only batch 0, then "crash" and resume the whole stream
    b0 = events.filter(F.col("batch_id") == 0).drop("batch_id")
    eng.apply_batch(b0, 0)
    report = eng.replay(events)
    assert report.skipped_batch_ids == [0]
    oracle = replay_oracle(events.toPandas())[
        ["repo", "path", "content_sha", "event_seq"]
    ].reset_index(drop=True)
    assert _final(eng).equals(oracle)


def test_bad_strategy_rejected(spark, scratch):
    with pytest.raises(EngineError, match="unknown merge strategy"):
        CdcEngine.create_table(
            spark, os.path.join(scratch, "x"), merge_strategy="nope"
        )


def test_cow_after_mor_deltas(spark, scratch):
    """A CoW apply on a table holding deltas must resolve them first and
    its counters must reflect logical rows (observed, not manifest sums)."""
    events = synthesize_change_events(spark, 4000, batch_size=2000)
    eng = CdcEngine.create_table(
        spark, os.path.join(scratch, "mix"), num_buckets=4, merge_strategy="mor"
    )
    b0 = events.filter(F.col("batch_id") == 0).drop("batch_id")
    eng.apply_batch(b0, 0)
    eng.merge_strategy = "cow"
    b1 = events.filter(F.col("batch_id") == 1).drop("batch_id")
    stats = eng.apply_batch(b1, 1)
    assert stats.rows_applied > 0
    oracle = replay_oracle(events.toPandas())[
        ["repo", "path", "content_sha", "event_seq"]
    ].reset_index(drop=True)
    assert _final(eng).equals(oracle)


def _tiny_batch(spark, rows):
    """rows: list of (path, event_seq, op) on a single repo."""
    import datetime as dt

    data = [
        (
            "r1",
            p,
            f"c{seq}",
            "py",
            f"content-{seq}",
            None,
            seq,
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seq),
            op,
        )
        for (p, seq, op) in rows
    ]
    return spark.createDataFrame(
        data,
        "repo string, path string, commit string, lang string, content string, "
        "content_sha string, event_seq long, event_ts timestamp, op string",
    )


def test_compaction_retains_delete_tombstones(spark, scratch):
    """Compaction must RETAIN winning delete markers: dropping them would
    let a late out-of-order delta with a LOWER event_seq resurrect a
    deleted key (exactly the late-epoch case streaming MoR handles)."""
    eng = CdcEngine.create_table(
        spark, os.path.join(scratch, "tomb"), num_buckets=2, merge_strategy="mor"
    )
    eng.apply_batch(
        _tiny_batch(spark, [("a", 1, "upsert"), ("a", 5, "delete"), ("b", 2, "upsert")]),
        0,
    )
    eng.compact()
    # tombstone marker for 'a' survived compaction
    tombs = [e for e in eng.table.manifest()["files"] if e.get("tombstone")]
    assert sum(e["rows"] for e in tombs) == 1
    # late, out-of-order: an upsert OLDER than the applied delete
    eng.apply_batch(_tiny_batch(spark, [("a", 3, "upsert")]), 1)
    assert eng.table.read().filter("path = 'a'").count() == 0, "key resurrected"
    # still deleted after a further compaction (tombstone re-retained)
    eng.compact()
    assert eng.table.read().filter("path = 'a'").count() == 0
    assert eng.table.read().count() == 1  # only 'b'
    # a passed ordering horizon ages the tombstone out
    eng.table.compact(tombstone_horizon=6)
    assert not [e for e in eng.table.manifest()["files"] if e.get("tombstone")]
    assert eng.table.read().count() == 1


def test_mor_order_col_validated(spark, scratch):
    """MoR refuses an order column that is not a table column or differs
    from the table's order_column property (writes would order by one
    column while read-time resolution orders by another)."""
    from sqoop_spark.cdc.merge import merge_apply

    eng = CdcEngine.create_table(
        spark, os.path.join(scratch, "ovd"), num_buckets=2, merge_strategy="mor"
    )
    batch = _tiny_batch(spark, [("a", 1, "upsert")])
    with pytest.raises(EngineError, match="to be .*a table column|in the table"):
        merge_apply(eng.table, batch, batch_id=0, order_col="nope", strategy="mor")
    with pytest.raises(EngineError, match="order_column"):
        merge_apply(eng.table, batch, batch_id=0, order_col="event_ts", strategy="mor")
    # nothing got fenced by the refused applies
    assert eng.table.fenced_batch_ids() == set()


@pytest.mark.parametrize("kind", ["upsert", "delete", "empty"])
def test_mor_buckets_touched_counts_batch_buckets(spark, scratch, kind):
    """MoR runs no affected-bucket probe; ``buckets_touched`` counts the
    buckets of the delta files it commits, which must equal the distinct
    buckets of the batch keys (0 for an empty batch)."""
    from pyspark.sql import types as T

    from sqoop_spark.cdc.merge import merge_apply
    from sqoop_spark.lake import LakeTable

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    t = LakeTable.create(
        spark, os.path.join(scratch, "bt"), schema, ["k"], num_buckets=8,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(f"k{i}", i, "v") for i in range(40)], schema))
    keys = {"upsert": ["k1", "k2", "k3", "new", "k1"],
            "delete": ["k5", "k6", "k30"], "empty": []}[kind]
    op = "delete" if kind == "delete" else "upsert"
    batch = spark.createDataFrame(
        [(k, 100 + i, None if op == "delete" else "w", op)
         for i, k in enumerate(keys)],
        T.StructType(schema.fields + [T.StructField("op", T.StringType())]),
    )
    want = batch.select(t.bucket_expr().alias("b")).distinct().count()
    assert want == len({t.bucket_of({"k": k}) for k in keys})
    stats = merge_apply(t, batch, batch_id=1, order_col="seq", strategy="mor")
    assert stats.buckets_touched == want
    assert (want == 0) == (kind == "empty")
