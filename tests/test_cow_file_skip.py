"""File-granular CoW merge: key zone-map carry of disjoint base files.

A CoW merge historically rewrote every file of every affected bucket. With
file-granular carry (cdc/merge.py _split_zone_carry) the same probe job
that finds affected buckets also records the batch's per-bucket key
[min, max]; base files whose key zone maps are provably disjoint are
committed by reference — write amplification O(overlapping files), not
O(bucket). These tests pin: carried files survive in the manifest
untouched, final state is byte-identical to the full-bucket rewrite,
counters stay exact, and delta-bearing buckets never carry.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from sqoop_spark.cdc.merge import MergeMode, merge_apply
from sqoop_spark.lake import LakeTable


SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)
BATCH_SCHEMA = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])


def _table(spark, scratch, name, buckets=2):
    return LakeTable.create(
        spark,
        os.path.join(scratch, name),
        SCHEMA,
        ["k"],
        num_buckets=buckets,
        properties={"order_column": "seq"},
    )


def _clustered_table(spark, scratch, name, n=400, target_rows=50):
    """A merge table whose base files are narrow in the KEY column: append
    n rows, then sort-order-rewrite by k so each bucket splits into
    ~n/(buckets*target_rows) files with tight k zone maps."""
    t = _table(spark, scratch, name)
    t.append(spark.createDataFrame([(k, k, f"v{k}") for k in range(n)], SCHEMA))
    t.rewrite_clustered(column="k", target_rows=target_rows)
    return t


def _state(t):
    return {r.k: (r.seq, r.v) for r in t.read().collect()}


def _paths(t, version=None):
    return {e["path"] for e in t.manifest(version)["files"]}


def test_file_skip_carries_disjoint_files(spark, scratch):
    t = _clustered_table(spark, scratch, "fs1")
    before_paths = _paths(t)
    before_files = len(before_paths)
    expect = _state(t)

    # Narrow batch: update 5 low keys, delete one, insert one new high key.
    rows = [(k, 1000 + k, f"new{k}", "upsert") for k in range(5)]
    rows.append((7, 1007, None, "delete"))
    rows.append((9999, 1099, "fresh", "upsert"))
    stats = merge_apply(
        t, spark.createDataFrame(rows, BATCH_SCHEMA), batch_id=1, order_col="seq"
    )
    for k in range(5):
        expect[k] = (1000 + k, f"new{k}")
    del expect[7]
    expect[9999] = (1099, "fresh")

    assert _state(t) == expect
    c = t.manifest()["lineage"]["counters"]
    assert c["files_carried"] > 0, "narrow batch on a clustered table must carry"
    assert c["files_carried"] + c["files_rewritten_from"] == before_files
    # Carried files survive IN the new manifest by reference.
    assert len(before_paths & _paths(t)) == c["files_carried"]
    # Counters stay exact under the skip: carried counts skipped-file rows.
    assert stats.updated == 5 and stats.inserted == 1 and stats.deleted == 1
    assert stats.carried == 400 - 5 - 1
    assert c["rows_carried_by_file_skip"] > 0


def _unclustered_table(spark, scratch, name, n=400):
    """The twin of :func:`_clustered_table` with the same rows left as
    appended: one file per bucket, spanning every key of the bucket."""
    t = _table(spark, scratch, name)
    t.append(spark.createDataFrame([(k, k, f"v{k}") for k in range(n)], SCHEMA))
    return t


def test_file_skip_matches_full_rewrite(spark, scratch):
    """An unclustered twin, whose one file per bucket spans the batch's key
    range so that nothing carries: identical final state and counters."""
    rows = [(k, 2000 + k, f"u{k}", "upsert") for k in range(10, 20)]
    rows.append((42, 2042, None, "delete"))
    batch = spark.createDataFrame(rows, BATCH_SCHEMA)

    t_skip = _clustered_table(spark, scratch, "fs2a")
    t_full = _unclustered_table(spark, scratch, "fs2b")
    pre_full = _paths(t_full)
    assert len({e["bucket"] for e in t_full.manifest()["files"]}) == len(pre_full)
    merge_apply(t_skip, batch, batch_id=1, order_col="seq")
    merge_apply(t_full, batch, batch_id=1, order_col="seq")

    assert _state(t_skip) == _state(t_full)
    c_full = t_full.manifest()["lineage"]["counters"]
    assert c_full["files_carried"] == 0
    c_skip = t_skip.manifest()["lineage"]["counters"]
    assert c_skip["files_carried"] > 0
    # Full rewrite keeps NO pre-merge files in affected buckets; with two
    # buckets and ≥10 spread keys both buckets are affected, so none survive.
    assert not (pre_full & _paths(t_full))
    # Counter totals agree between the two strategies.
    for key in ("carried", "updated", "inserted", "deleted", "old_rows_touched"):
        assert c_skip[key] == c_full[key], key


def test_stale_out_of_order_batch_still_carries_correctly(spark, scratch):
    """Seq-aware staleness interacts with the skip: a stale update must not
    apply even when its file was rewritten, and files outside its range
    stay carried."""
    t = _clustered_table(spark, scratch, "fs3")
    expect = _state(t)
    # Key 3 currently has seq=3; a batch row with seq=2 is stale.
    batch = spark.createDataFrame([(3, 2, "stale", "upsert")], BATCH_SCHEMA)
    merge_apply(t, batch, batch_id=1, order_col="seq")
    assert _state(t) == expect
    c = t.manifest()["lineage"]["counters"]
    assert c["updated"] == 0 and c["inserted"] == 0 and c["deleted"] == 0
    # One affected bucket: every row of it carries (stale row applies nothing).
    assert c["carried"] == c["old_rows_touched"] > 0


def test_delta_bucket_never_carries(spark, scratch):
    """A bucket holding unmerged MoR deltas is fully rewritten: its logical
    state is not its base files, so zone-map carry would resurrect stale
    rows. Other affected buckets still carry."""
    t = _clustered_table(spark, scratch, "fs4")
    # MoR-write one key; find its bucket.
    mor_key = 123
    merge_apply(
        t,
        spark.createDataFrame([(mor_key, 5000, "mor", "upsert")], BATCH_SCHEMA),
        batch_id=1,
        order_col="seq",
        strategy="mor",
    )
    delta_bucket = t.bucket_of({"k": mor_key})
    pre = {
        e["path"] for e in t.manifest()["files"] if e["bucket"] == delta_bucket
    }
    # CoW batch touching a key in the delta bucket and one elsewhere.
    other = next(
        k for k in range(200) if t.bucket_of({"k": k}) != delta_bucket
    )
    batch = spark.createDataFrame(
        [(mor_key, 6000, "cow", "upsert"), (other, 6001, "cow2", "upsert")],
        BATCH_SCHEMA,
    )
    merge_apply(t, batch, batch_id=2, order_col="seq")
    post_delta_bucket = {
        e["path"] for e in t.manifest()["files"] if e["bucket"] == delta_bucket
    }
    assert not (pre & post_delta_bucket), "delta bucket must fully rewrite"
    assert not any(e.get("delta") for e in t.manifest()["files"]), (
        "CoW merge folds the delta files away"
    )
    st = _state(t)
    assert st[mor_key] == (6000, "cow") and st[other] == (6001, "cow2")
    c = t.manifest()["lineage"]["counters"]
    assert c["files_carried"] > 0, "the non-delta affected bucket still carries"


def test_update_only_and_allow_insert_respect_carry(spark, scratch):
    """Export update modes classify against the old side; carried files
    cannot match by proof, so semantics are unchanged."""
    t = _clustered_table(spark, scratch, "fs5")
    expect = _state(t)
    batch = spark.createDataFrame(
        [(2, 3000, "upd", "upsert"), (7777, 3001, "ghost", "upsert")],
        BATCH_SCHEMA,
    )
    merge_apply(
        t, batch, batch_id=1, order_col="seq", mode=MergeMode.UPDATE_ONLY
    )
    expect[2] = (3000, "upd")  # 7777 unmatched → silently ignored
    assert _state(t) == expect
    assert t.manifest()["lineage"]["counters"]["inserted"] == 0


def test_delete_where_rewrites_only_matching_files(spark, scratch):
    """File-granular DML: a predicate delete touching one narrow key range
    rewrites only the files attributed by the discovery scan; every other
    file in affected buckets carries by reference, and erased keys still
    get payload-free tombstones."""
    t = _clustered_table(spark, scratch, "dml1")
    before = _paths(t)
    n_files = len(before)
    expect = _state(t)
    m = t.delete_where("k >= 10 and k < 20", batch_id=1)
    for k in range(10, 20):
        del expect[k]
    assert _state(t) == expect
    s = m["summary"]
    assert s["rows_deleted"] == 10
    assert s["files_carried_in_buckets"] > 0
    assert s["files_rewritten_from"] < n_files
    assert len(before & _paths(t)) == s["files_carried_in_buckets"]
    # GDPR markers survive as payload-free tombstones for the erased keys.
    tomb = [e for e in t.manifest()["files"] if e.get("tombstone")]
    assert sum(e["rows"] for e in tomb) == 10


def test_update_where_rewrites_only_matching_files(spark, scratch):
    t = _clustered_table(spark, scratch, "dml2")
    before = _paths(t)
    expect = _state(t)
    m = t.update_where("k = 5", {"v": "upper(v)"}, batch_id=1)
    expect[5] = (5, "V5")
    assert _state(t) == expect
    s = m["summary"]
    assert s["rows_updated"] == 1
    assert s["files_carried_in_buckets"] > 0
    # exactly ONE file held k=5 → exactly one file rewritten; every other
    # file (in or out of the affected bucket) survives by reference
    assert s["files_rewritten_from"] == 1
    assert len(before & _paths(t)) == len(before) - 1


def test_dml_null_condition_rows_kept_with_file_skip(spark, scratch):
    """NULL-evaluating rows are kept (SQL DML semantics) and, living in
    unmatched files, are carried without ever being read."""
    import os as _os

    from pyspark.sql import types as T2

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark,
        _os.path.join(scratch, "dml3"),
        schema,
        ["k"],
        num_buckets=2,
        properties={"order_column": "seq"},
    )
    rows = [(k, k, None if k % 2 else f"v{k}") for k in range(40)]
    t.append(spark.createDataFrame(rows, schema))
    t.rewrite_clustered(column="k", target_rows=10)
    m = t.delete_where("length(v) >= 0 and k < 4", batch_id=1)
    st = _state(t)
    assert 0 not in st and 2 not in st, "even keys < 4 match and are deleted"
    assert 1 in st and 3 in st, "NULL-condition rows are kept"
    assert m["summary"]["files_carried_in_buckets"] > 0


def test_delete_where_in_delta_bucket_full_rewrite(spark, scratch):
    """A bucket holding unmerged MoR deltas cannot attribute winners to
    files — the whole bucket rewrites (and compacts), like the merge path."""
    t = _clustered_table(spark, scratch, "dml4")
    mor_key = 77
    merge_apply(
        t,
        spark.createDataFrame([(mor_key, 9000, "mor", "upsert")], BATCH_SCHEMA),
        batch_id=1,
        order_col="seq",
        strategy="mor",
    )
    b = t.bucket_of({"k": mor_key})
    pre = {e["path"] for e in t.manifest()["files"] if e["bucket"] == b}
    m = t.delete_where(f"k = {mor_key}", batch_id=2)
    post = {e["path"] for e in t.manifest()["files"] if e["bucket"] == b}
    assert not (pre & post), "delta bucket must fully rewrite"
    assert mor_key not in _state(t)
    assert m["summary"]["rows_deleted"] == 1


TS_SCHEMA = T.StructType(
    [
        T.StructField("k", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)
TS_BATCH = T.StructType(TS_SCHEMA.fields + [T.StructField("op", T.StringType())])


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_timestamp_key_carry_keeps_keys_unique(spark, scratch, tz):
    """On a TIMESTAMP-keyed table, a batch that updates one file's min key
    and another file's max key must rewrite both files: the batch's key
    range and the footer bounds name the same instants, whatever the
    session time zone. A batch bound spelled without the bounds' UTC
    offset sorts below an equal min bound, the file holding the key is
    carried, and the merge inserts the key a second time."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        base = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
        rows = [(base + dt.timedelta(hours=i), i, f"v{i}") for i in range(200)]

        def make(name, cluster):
            t = LakeTable.create(
                spark, os.path.join(scratch, name), TS_SCHEMA, ["k"],
                num_buckets=2, properties={"order_column": "seq"},
            )
            t.append(spark.createDataFrame(rows, TS_SCHEMA))
            if cluster:
                t.rewrite_clustered(column="k", target_rows=25)
            return t

        t, twin = make("ts_clustered", True), make("ts_twin", False)
        files = t.manifest()["files"]
        assert len(twin.manifest()["files"]) == 2  # one file per bucket
        by_bucket = {
            b: sorted((e for e in files if e["bucket"] == b),
                      key=lambda e: e["stats"]["k"][0])
            for b in (0, 1)
        }
        assert all(len(fs) >= 3 for fs in by_bucket.values())
        # the min key of a middle file of bucket 0, the max key of one of
        # bucket 1
        lo_key = dt.datetime.fromisoformat(by_bucket[0][1]["stats"]["k"][0])
        hi_key = dt.datetime.fromisoformat(by_bucket[1][1]["stats"]["k"][1])
        batch = spark.createDataFrame(
            [(lo_key, 1000, "lo", "upsert"), (hi_key, 1001, "hi", "upsert")],
            TS_BATCH,
        )
        for table in (t, twin):
            stats = merge_apply(table, batch, batch_id=1, order_col="seq")
            assert (stats.updated, stats.inserted, stats.deleted) == (2, 0, 0)
        got = sorted(map(tuple, t.read().collect()))
        assert len({r[0] for r in got}) == len(got) == 200
        assert got == sorted(map(tuple, twin.read().collect()))
        assert t.manifest()["lineage"]["counters"]["files_carried"] > 0
        assert twin.manifest()["lineage"]["counters"]["files_carried"] == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
