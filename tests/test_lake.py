"""LakeTable format: commits, fencing, bucket pruning, schema evolution."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.errors import EngineError, IncompatibleSchemaError
from sqoop_spark.lake import LakeTable
from sqoop_spark.lake.pruning import select_files

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def make(spark, scratch, buckets=4):
    return LakeTable.create(
        spark, os.path.join(scratch, "t"), SCHEMA, ["repo", "path"], num_buckets=buckets
    )


def df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_read(spark, scratch):
    t = make(spark, scratch)
    t.append(df(spark, [("r1", "a", "x"), ("r2", "b", "y")]), batch_id=0)
    got = {(r.repo, r.path, r.content) for r in t.read().collect()}
    assert got == {("r1", "a", "x"), ("r2", "b", "y")}
    assert t.total_rows() == 2
    assert t.fenced_batch_ids() == {0}


def test_fence_rejects_duplicate_batch(spark, scratch):
    t = make(spark, scratch)
    t.append(df(spark, [("r1", "a", "x")]), batch_id=7)
    with pytest.raises(EngineError, match="fenced"):
        t.append(df(spark, [("r1", "a", "x")]), batch_id=7)


def test_reload_sees_committed_state(spark, scratch):
    t = make(spark, scratch)
    t.append(df(spark, [("r1", "a", "x")]), batch_id=1)
    t2 = LakeTable.load(spark, t.path)
    assert t2.total_rows() == 1
    assert t2.fenced_batch_ids() == {1}


def test_bucket_pruned_read(spark, scratch):
    t = make(spark, scratch, buckets=8)
    rows = [(f"r{i}", f"p{i}", f"c{i}") for i in range(50)]
    t.append(df(spark, rows))
    full = t.read()
    with_b = full.withColumn("_b", t.bucket_expr())
    some = [r._b for r in with_b.select("_b").distinct().collect()][:3]
    pruned = t.read_buckets(some).withColumn("_b", t.bucket_expr())
    assert pruned.filter(~F.col("_b").isin(some)).count() == 0
    expect = with_b.filter(F.col("_b").isin(some)).count()
    assert pruned.count() == expect
    # pruning actually skips files
    entries = [e for e in t.manifest()["files"] if e["bucket"] in set(some)]
    assert len(entries) < len(t.manifest()["files"])


def test_overwrite_buckets_carries_untouched_files(spark, scratch):
    t = make(spark, scratch, buckets=8)
    rows = [(f"r{i}", f"p{i}", f"c{i}") for i in range(50)]
    t.append(df(spark, rows))
    before = {e["path"]: e for e in t.manifest()["files"]}
    upd = df(spark, [("r1", "p1", "NEW")]).withColumn("_bucket", t.bucket_expr())
    bucket = upd.select("_bucket").collect()[0]._bucket
    merged_bucket = (
        t.read_buckets([bucket])
        .withColumn("content", F.when((F.col("repo") == "r1") & (F.col("path") == "p1"), "NEW").otherwise(F.col("content")))
    )
    t.overwrite_buckets(merged_bucket, [bucket], batch_id=1)
    after = t.manifest()["files"]
    carried = [e for e in after if e["path"] in before and e["bucket"] != bucket]
    assert carried, "untouched files must be carried forward by reference"
    assert all(e["bucket"] != bucket or e["path"] not in before for e in after)
    got = dict(
        ((r.repo, r.path), r.content) for r in t.read().collect()
    )
    assert got[("r1", "p1")] == "NEW"
    assert len(got) == 50


def test_schema_evolution_add_rename_drop(spark, scratch):
    t = make(spark, scratch)
    t.append(df(spark, [("r1", "a", "x")]))
    t.add_column("license", "string")
    assert t.read().filter(F.col("license").isNull()).count() == 1
    # write a row with the new column
    new_schema = t.schema()
    t.append(spark.createDataFrame([("r2", "b", "y", "MIT")], new_schema))
    t.rename_column("license", "lic")
    got = {(r.repo, r.lic) for r in t.read().collect()}
    assert got == {("r1", None), ("r2", "MIT")}
    t.drop_column("lic")
    assert "lic" not in t.read().columns
    # old files still readable
    assert t.read().count() == 2


def test_incompatible_type_change_rejected(spark, scratch):
    t = make(spark, scratch)
    with pytest.raises(
        IncompatibleSchemaError,
        match="Cannot merge files, the Avro schemas are not compatible.",
    ):
        t.change_column_type("content", "int")


def test_rename_key_column_rejected(spark, scratch):
    t = make(spark, scratch)
    with pytest.raises(IncompatibleSchemaError):
        t.rename_column("repo", "repository")


def test_time_travel_read(spark, scratch):
    t = make(spark, scratch)
    t.append(df(spark, [("r1", "a", "x")]))
    v1 = t.current_version()
    t.append(df(spark, [("r2", "b", "y")]))
    assert t.read(v1).count() == 1
    assert t.read().count() == 2
    ops = [s.operation for s in t.snapshots()]
    assert ops == ["create", "append", "append"]


def test_remove_orphan_files(spark, scratch):
    """Iceberg remove_orphan_files semantics: unreferenced data files from
    crashed writers are deleted past the age horizon; referenced files and
    young (possibly in-flight) files survive; table state is unchanged."""
    import os
    import time

    from sqoop_spark.lake import LakeTable
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LakeTable.create(spark, f"{scratch}/orph", schema, ["k"], num_buckets=2)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    before = sorted(r["k"] for r in t.read().collect())

    # a crashed writer's droppings: a data dir written but never committed
    orphan_dir = os.path.join(t.data_dir, "deadbeef", "_bucket=0")
    os.makedirs(orphan_dir)
    old_orphan = os.path.join(orphan_dir, "part-000.zstd.parquet")
    young_orphan = os.path.join(orphan_dir, "part-001.zstd.parquet")
    for p in (old_orphan, young_orphan):
        with open(p, "wb") as f:
            f.write(b"not really parquet")
    past = time.time() - 7200
    os.utime(old_orphan, (past, past))

    got = t.remove_orphan_files(older_than_seconds=3600)
    assert got["removed_files"] >= 1
    assert not os.path.exists(old_orphan), "aged orphan must be deleted"
    assert os.path.exists(young_orphan), "young file may be an in-flight commit"
    assert sorted(r["k"] for r in t.read().collect()) == before

    # after the horizon passes, the young one goes too and its dirs prune
    os.utime(young_orphan, (past, past))
    got2 = t.remove_orphan_files(older_than_seconds=3600)
    assert got2["removed_files"] == 1
    assert not os.path.exists(os.path.join(t.data_dir, "deadbeef"))
    assert sorted(r["k"] for r in t.read().collect()) == before


def test_zone_map_stats_and_read_since(spark, scratch):
    """Append-mode commits carry per-file min/max zone maps on the order
    column; read_since prunes every file wholly below the watermark and
    still returns exactly the filtered rows."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark,
        f"{scratch}/zm",
        schema,
        ["k"],
        num_buckets=2,
        properties={"order_column": "seq"},
    )
    # three commits with disjoint seq ranges: [0,10), [10,20), [20,30)
    for lo in (0, 10, 20):
        rows = [(lo + i, lo + i, f"v{lo + i}") for i in range(10)]
        t.append(spark.createDataFrame(rows, schema), batch_id=lo)

    entries = t.manifest()["files"]
    assert entries and all("stats" in e and "seq" in e["stats"] for e in entries)
    for e in entries:
        mn, mx = e["stats"]["seq"]
        assert 0 <= mn <= mx <= 29

    pruned = [e for e in entries if e["stats"]["seq"][1] > 19]
    assert pruned, "watermark 19 must keep the last commit's files"
    assert len(pruned) < len(entries), "files wholly below the watermark skip"
    assert all(e["stats"]["seq"][1] > 19 for e in pruned)

    since = t.read_since("seq", 19)
    # the physical scan itself opens only the pruned files
    assert len(since.inputFiles()) == len(pruned)
    got = sorted(r["seq"] for r in since.collect())
    assert got == list(range(20, 30))
    # upper-bounded window (the append-slice contract: > lo AND <= hi)
    got2 = sorted(r["seq"] for r in t.read_since("seq", 9, upper=19).collect())
    assert got2 == list(range(10, 20))


def test_read_since_string_watermark_on_bigint_order_column(spark, scratch):
    """A string watermark on a bigint order column is cast by Spark, as in
    ``read().filter("seq > '5'")``; the zone-map prune must not compare
    it uncast with the integer bounds (that raised TypeError)."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("seq", T.LongType())]
    )
    t = LakeTable.create(
        spark, f"{scratch}/zstr", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    for lo in (0, 5):
        t.append(spark.createDataFrame(
            [(lo + i, lo + i) for i in range(5)], schema
        ))
    t.append_delta(spark.createDataFrame(
        [(1, 20, "upsert"), (7, 21, "delete")],
        T.StructType(schema.fields + [T.StructField("op", T.StringType())]),
    ))
    for lo, upper in [("5", None), ("5", "9"), (None, "4")]:
        want = t.read()
        if lo is not None:
            want = want.filter(f"seq > '{lo}'")
        if upper is not None:
            want = want.filter(f"seq <= '{upper}'")
        got = t.read_since("seq", lo, upper)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), (lo, upper)
    assert t.read_since("seq", "5").count() == 4


def test_prune_entries_fail_open_without_stats(spark, scratch):
    """Entries with no recorded stat (older manifests, unstatted types)
    must never be pruned."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("seq", T.LongType())]
    )
    t = LakeTable.create(
        spark, f"{scratch}/zfo", schema, ["k"], num_buckets=1,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(1, 1), (2, 2)], schema))
    entries = [dict(e) for e in t.manifest()["files"]]
    for e in entries:
        e.pop("stats", None)
    terms = [("seq", ">", [10**9]), ("k", "=", [10**9])]
    assert select_files(t.path, entries, terms, ["k"], "seq") == entries


def test_read_since_mor_fallback(spark, scratch):
    """With unresolved MoR deltas a bucket cannot be read as a per-file
    subset: read_since must key-resolve the delta buckets and still match
    the logical filter semantics (newest wins, deletes drop)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/zmor", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], schema))
    # delta: newer version of k=1 (seq 10) and delete of k=2 (seq 11)
    delta = spark.createDataFrame(
        [(1, 10, "a2", "upsert"), (2, 11, "b", "delete")],
        T.StructType(schema.fields + [T.StructField("op", T.StringType())]),
    )
    t.append_delta(delta)
    got = {(r.k, r.seq, r.v) for r in t.read_since("seq", 5).collect()}
    assert got == {(1, 10, "a2")}


def test_read_since_mor_bucket_granular(spark, scratch):
    """An unmerged delta in ONE bucket must not degrade the incremental
    read to a full-table resolve: the delta bucket opens only its files
    above the watermark (the lower bound on the order column is applied
    below newest-wins), and delta-free buckets keep the zone-map file
    skip. (The lagging-compactor scale edge: O(delta buckets), not
    O(table).)"""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/zmbg", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    # three commits with disjoint seq ranges; keys land in both buckets
    for lo in (0, 10, 20):
        rows = [(lo + i, lo + i, f"v{lo + i}") for i in range(10)]
        t.append(spark.createDataFrame(rows, schema), batch_id=lo)

    # pick two keys that hash into bucket 0 for the delta
    kb = {
        r.k: r.b
        for r in spark.createDataFrame([(k,) for k in range(30)], "k long")
        .select("k", t.bucket_expr().alias("b"))
        .collect()
    }
    delta_keys = [k for k, b in kb.items() if b == 0][:2]
    assert delta_keys, "fixture must produce bucket-0 keys"
    delta = spark.createDataFrame(
        [(k, 100 + k, "new", "upsert") for k in delta_keys],
        T.StructType(schema.fields + [T.StructField("op", T.StringType())]),
    )
    t.append_delta(delta)

    entries = t.manifest()["files"]
    above0 = [e for e in entries if e["bucket"] == 0 and e["stats"]["seq"][1] > 19]
    assert any(e.get("delta") for e in above0)
    assert len(above0) < sum(e["bucket"] == 0 for e in entries)
    clean1 = [e for e in entries if e["bucket"] == 1]
    pruned1 = [e for e in clean1 if e["stats"]["seq"][1] > 19]
    assert len(pruned1) < len(clean1), "clean bucket must still zone-map-prune"

    since = t.read_since("seq", 19)
    opened = since.inputFiles()

    def tail(p):  # "<commit-uuid>/_bucket=K/part-...": unique per file
        return "/".join(p.replace("\\", "/").split("/")[-3:])

    # exactly: the delta bucket's files whose seq max is above the
    # watermark plus the zone-map-surviving files of the clean bucket
    assert len(opened) == len(above0) + len(pruned1)
    assert len(opened) < len(entries)
    opened_names = {tail(p) for p in opened}
    assert opened_names == {tail(e["path"]) for e in above0} | {
        tail(e["path"]) for e in pruned1
    }

    # value correctness: equals the unpruned logical read + filter
    expect = {tuple(r) for r in t.read().filter("seq > 19").collect()}
    got = {tuple(r) for r in since.collect()}
    assert got == expect and got, "bucket-granular read must match full resolve"


def test_changes_between_snapshots(spark, scratch):
    """Snapshot changelog: insert/update/delete classification across two
    versions, MoR deltas resolved, unchanged buckets pruned by manifest
    diff; identical versions diff to an empty frame without a join."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/cl", schema, ["k"], num_buckets=4,
        properties={"order_column": "seq"},
    )
    base = [(i, i, f"v{i}") for i in range(1, 9)]
    t.append(spark.createDataFrame(base, schema))  # v2
    delta = spark.createDataFrame(
        [(1, 100, "v1b", "upsert"), (2, 101, "v2", "delete"), (9, 102, "v9", "upsert")],
        T.StructType(schema.fields + [T.StructField("op", T.StringType())]),
    )
    t.append_delta(delta)  # v3

    diff = t.changes_between(2, 3)
    got = {(r.k, r._change, r.seq) for r in diff.collect()}
    assert got == {(1, "update", 100), (2, "delete", 2), (9, "insert", 102)}

    # identical versions: metadata-only empty diff
    assert t.changes_between(3, 3).count() == 0
    assert t.changes_between(2, 2).count() == 0


def test_changes_between_bucket_prune_files_opened(spark, scratch):
    """Plan evidence for the manifest-diff prune: files of buckets whose
    manifest file set is identical in both versions never appear in the
    diff's scan — the changelog join costs O(changed buckets)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/clp", schema, ["k"], num_buckets=4,
        properties={"order_column": "seq"},
    )
    base = [(i, i, f"v{i}") for i in range(1, 33)]
    t.append(spark.createDataFrame(base, schema))  # v2: files in all buckets

    # merge-touch only the bucket of k=1 (CoW rewrites whole buckets)
    kb = {
        r.k: r.b
        for r in spark.createDataFrame([(k,) for k in range(1, 33)], "k long")
        .select("k", t.bucket_expr().alias("b"))
        .collect()
    }
    hot_bucket = kb[1]
    hot_keys = [k for k, b in kb.items() if b == hot_bucket][:3]
    upd = spark.createDataFrame(
        [(k, 1000 + k, "upd", "upsert") for k in hot_keys],
        T.StructType(schema.fields + [T.StructField("op", T.StringType())]),
    )
    t.append_delta(upd)  # v3: only hot_bucket gains a delta file

    diff = t.changes_between(2, 3)

    def tail(p):  # "<commit-uuid>/_bucket=K/part-...": unique per file
        return "/".join(p.replace("\\", "/").split("/")[-3:])

    opened = {tail(p) for p in diff.inputFiles()}
    untouched = {
        tail(e["path"])
        for e in t.manifest(3)["files"]
        if e["bucket"] != hot_bucket
    }
    assert opened, "diff must read the changed bucket"
    assert not opened & untouched, (
        "untouched buckets' files must never appear in the changelog scan"
    )
    got = {(r.k, r._change, r.seq) for r in diff.collect()}
    assert got == {(k, "update", 1000 + k) for k in hot_keys}


def test_changes_between_expired_version_raises(spark, scratch):
    """A version removed by expire_snapshots must fail the diff with the
    engine's 'expired' error, not a raw FileNotFoundError."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("seq", T.LongType())]
    )
    t = LakeTable.create(
        spark, f"{scratch}/clx", schema, ["k"], num_buckets=1,
        properties={"order_column": "seq"},
    )
    for i in range(5):
        t.append(spark.createDataFrame([(i, i)], schema))
    t.expire_snapshots(keep_last=2)
    live = t.current_version()
    assert not t.manifest_exists(2)
    with pytest.raises(EngineError, match="expired"):
        t.changes_between(2, live)


def test_rewrite_small_files(spark, scratch):
    """Bin-packing: many small per-commit base files collapse to one per
    bucket; content identical, zone maps refreshed, deltas untouched."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/rw", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    for c in range(4):  # 4 tiny commits -> >= 4 base files per bucket
        rows = [(c * 10 + i, c * 10 + i, f"v{c}{i}") for i in range(6)]
        t.append(spark.createDataFrame(rows, schema), batch_id=c)
    before = {(r.k, r.seq, r.v) for r in t.read().collect()}
    files_before = len(t.manifest()["files"])

    m = t.rewrite_small_files(target_rows=1000)
    assert m["operation"] == "rewrite"
    per_bucket = {}
    for e in t.manifest()["files"]:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    assert len(t.manifest()["files"]) < files_before
    assert {(r.k, r.seq, r.v) for r in t.read().collect()} == before
    # zone maps present on the rewritten files
    assert all("seq" in (e.get("stats") or {}) for e in t.manifest()["files"])

    # already-packed table: no-op, no new commit
    v = t.current_version()
    t.rewrite_small_files(target_rows=1000)
    assert t.current_version() == v

    # big files (avg rows >= target) are left alone
    t.append(spark.createDataFrame([(100, 100, "x"), (101, 101, "y")], schema))
    v2 = t.current_version()
    t.rewrite_small_files(target_rows=1)
    assert t.current_version() == v2


def test_changelog_roundtrip_applies_to_old_state(spark, scratch):
    """Semantic invariant: old-state ⊕ changes_between(a, b) == state(b).
    Applying the diff (drop deleted/updated keys, add insert/update rows)
    to the old snapshot must reproduce the new one exactly."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/clrt", schema, ["k"], num_buckets=4,
        properties={"order_column": "seq"},
    )
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    phase1 = [(i, i, f"a{i}", "upsert") for i in range(30)]
    t.append_delta(spark.createDataFrame(phase1, op_schema))
    v_a = t.current_version()
    phase2 = (
        [(i, 100 + i, f"b{i}", "upsert") for i in range(0, 30, 3)]  # updates
        + [(i, 200 + i, f"c{i}", "delete") for i in range(1, 30, 5)]  # deletes
        + [(i, 300 + i, f"n{i}", "upsert") for i in range(40, 50)]  # inserts
    )
    t.append_delta(spark.createDataFrame(phase2, op_schema))
    t.compact()
    v_b = t.current_version()

    diff = t.changes_between(v_a, v_b)
    old = t.read(v_a)
    touched = diff.select("k").distinct()
    applied = old.join(touched, "k", "left_anti").unionByName(
        diff.filter(F.col("_change") != "delete").drop("_change")
    )
    want = {(r.k, r.seq, r.v) for r in t.read(v_b).collect()}
    got = {(r.k, r.seq, r.v) for r in applied.collect()}
    assert got == want


def test_iter_changes_replicates_table(spark, scratch):
    """Changelog tailing end-to-end: a consumer applying every per-commit
    diff (and, independently, one coalesced diff) reproduces the final
    table state — including across a mid-stream schema evolution, whose
    added column reports as updates speaking the NEW schema."""
    from sqoop_spark.streaming import apply_changes, iter_changes

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/tail", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append(spark.createDataFrame([(i, i, f"a{i}") for i in range(6)], schema))
    v_first = t.current_version()
    t.append_delta(
        spark.createDataFrame(
            [(1, 10, "b1", "upsert"), (2, 11, "b2", "delete")], op_schema
        )
    )
    t.add_column("license", "string")  # maintenance commit: empty diff, skipped
    lic_schema = T.StructType(
        t.schema().fields + [T.StructField("op", T.StringType())]
    )
    t.append_delta(
        spark.createDataFrame([(7, 12, "c7", "MIT", "upsert")], lic_schema)
    )

    want = {
        (r.k,): {"k": r.k, "seq": r.seq, "v": r.v, "license": r.license}
        for r in t.read().collect()
    }

    # per-commit tailing from the first commit the consumer already has
    state = {
        (r.k,): {"k": r.k, "seq": r.seq, "v": r.v, "license": None}
        for r in t.read(v_first).collect()
    }
    seen = []
    for v, diff in iter_changes(t, v_first):
        seen.append(v)
        apply_changes(state, diff, ["k"])
    # diffs emitted BEFORE the evolution speak the old schema — the
    # consumer's ALTER backfills the added column as NULL, so compare
    # under that normalization (missing == None)
    cols = ["k", "seq", "v", "license"]

    def norm(d):
        return {k: {c: row.get(c) for c in cols} for k, row in d.items()}

    assert norm(state) == want
    assert len(seen) == 2  # the evolve commit produced no diff

    # coalesced: one net diff equals the same end state
    state2 = {
        (r.k,): {"k": r.k, "seq": r.seq, "v": r.v, "license": None}
        for r in t.read(v_first).collect()
    }
    for _v, diff in iter_changes(t, v_first, coalesce=True):
        apply_changes(state2, diff, ["k"])
    assert norm(state2) == want


def test_read_since_randomized_matches_full_filter(spark, scratch):
    """Randomized (seeded) batches + watermarks: the zone-map-pruned
    read_since always equals the unpruned read().filter — pruning is an
    optimization, never a semantics change."""
    import random

    rng = random.Random(7)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("seq", T.LongType())]
    )
    t = LakeTable.create(
        spark, f"{scratch}/zr", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    seq = 0
    for _commit in range(5):
        n = rng.randint(1, 12)
        rows = []
        for _ in range(n):
            # non-monotone within a commit, overlapping ranges across some
            seq += rng.randint(1, 4)
            rows.append((rng.randint(0, 30), seq))
        rng.shuffle(rows)
        t.append(spark.createDataFrame(rows, schema))
    hi = seq
    for w in (0, hi // 3, hi // 2, hi - 1, hi):
        pruned = {tuple(r) for r in t.read_since("seq", w).collect()}
        full = {
            tuple(r)
            for r in t.read().filter(F.col("seq") > F.lit(w)).collect()
        }
        assert pruned == full, f"watermark {w}"


def test_follow_changes_resumable_consumer(spark, scratch):
    """Resumable changelog consumer: bootstrap records the position
    without replaying history; subsequent passes deliver exactly the new
    commits and advance the JobStore watermark; an idle pass delivers
    nothing."""
    from sqoop_spark.cdc.checkpoint import JobStore
    from sqoop_spark.streaming import apply_changes, follow_changes

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/fc", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], schema))
    store = JobStore(f"{scratch}/fc_jobs")
    store.create("consumer", {})

    state: dict = {}
    # bootstrap: no history replay, position = current
    assert follow_changes(t, store, "consumer", lambda v, d: state) == 0
    for r in t.read().collect():
        state[(r.k,)] = {"k": r.k, "seq": r.seq, "v": r.v}

    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append_delta(
        spark.createDataFrame(
            [(1, 10, "a2", "upsert"), (2, 11, "b", "delete")], op_schema
        )
    )
    t.append(spark.createDataFrame([(5, 12, "e")], schema))

    n = follow_changes(
        t, store, "consumer", lambda v, d: apply_changes(state, d, ["k"])
    )
    assert n == 2
    want = {(r.k,): {"k": r.k, "seq": r.seq, "v": r.v} for r in t.read().collect()}
    assert state == want
    # idle pass: nothing new, watermark already current
    assert follow_changes(t, store, "consumer", lambda v, d: 1 / 0) == 0


def test_follow_changes_bootstrap_on_empty_table(spark, scratch):
    """Bootstrapping against a table with no commits saves position 0;
    the NEXT pass must re-bootstrap to the then-current version instead
    of crashing in iter_changes (from_version >= 1 contract)."""
    from sqoop_spark.cdc.checkpoint import JobStore
    from sqoop_spark.streaming import follow_changes

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("seq", T.LongType())]
    )
    t = LakeTable(spark, f"{scratch}/fce")
    store = JobStore(f"{scratch}/fce_jobs")
    store.create("consumer", {})
    # table does not exist yet -> current_version() is None -> position 0
    assert follow_changes(t, store, "consumer", lambda v, d: 1 / 0) == 0
    assert store.read("consumer")["options"]["changelog.last.version"] == 0

    LakeTable.create(
        spark, f"{scratch}/fce", schema, ["k"], num_buckets=1,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(1, 1)], schema))
    # saved 0 is not a usable diff base: re-bootstrap, no crash, no diffs
    assert follow_changes(t, store, "consumer", lambda v, d: 1 / 0) == 0
    assert (
        store.read("consumer")["options"]["changelog.last.version"]
        == t.current_version()
    )
    # and from here the loop works normally
    t.append(spark.createDataFrame([(2, 2)], schema))
    seen = []
    assert follow_changes(t, store, "consumer", lambda v, d: seen.append(v)) == 1
    assert seen == [t.current_version()]


def test_follow_changes_expired_position_rebootstraps(spark, scratch):
    """A consumer whose saved version was removed by expire_snapshots
    re-bootstraps to current (signalled by 0 diffs + advanced watermark)
    instead of raising a raw FileNotFoundError."""
    from sqoop_spark.cdc.checkpoint import JobStore
    from sqoop_spark.streaming import follow_changes, iter_changes

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("seq", T.LongType())]
    )
    t = LakeTable.create(
        spark, f"{scratch}/fcx", schema, ["k"], num_buckets=1,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(1, 1)], schema))  # v2
    store = JobStore(f"{scratch}/fcx_jobs")
    store.create("consumer", {"changelog.last.version": 2})
    for i in range(2, 6):
        t.append(spark.createDataFrame([(i, i)], schema))
    t.expire_snapshots(keep_last=2)
    assert not t.manifest_exists(2)

    with pytest.raises(EngineError, match="expired"):
        list(iter_changes(t, 2, t.current_version()))
    assert follow_changes(t, store, "consumer", lambda v, d: 1 / 0) == 0
    assert (
        store.read("consumer")["options"]["changelog.last.version"]
        == t.current_version()
    )


def _kv_table(spark, path, num_buckets=2):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    return LakeTable.create(
        spark, path, schema, ["k"], num_buckets=num_buckets,
        properties={"order_column": "seq"},
    ), schema


def _table_state(t):
    return {(r.k): (r.seq, r.v) for r in t.read().collect()}


def test_replicate_to_table_converges_and_fences_redelivery(spark, scratch):
    """Lake→lake replication through the changelog: bootstrap copies the
    snapshot as one fenced batch, each later content commit lands as one
    fenced diff batch (batch id = source version), and a crash between
    apply and watermark save redelivers the diff — which the replica's
    fence no-ops, converging exactly-once (the outbound mirror of the
    inbound foreachBatch epoch fence, streaming/foreach.py)."""
    from sqoop_spark.cdc import CdcEngine
    from sqoop_spark.cdc.checkpoint import JobStore
    from sqoop_spark.streaming import replicate_to_table

    src, schema = _kv_table(spark, f"{scratch}/rsrc")
    dst, _ = _kv_table(spark, f"{scratch}/rdst")
    replica = CdcEngine(spark, dst, fingerprint=False)
    store = JobStore(f"{scratch}/r_jobs")
    store.create("replica", {})

    src.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], schema))
    # bootstrap = one fenced snapshot batch
    assert replicate_to_table(src, replica, store, "replica") == 1
    assert _table_state(dst) == _table_state(src)

    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    src.append_delta(
        spark.createDataFrame(
            [(1, 10, "a2", "upsert"), (2, 11, "b", "delete")], op_schema
        )
    )
    src.append(spark.createDataFrame([(5, 12, "e")], schema))
    v_before = store.read("replica")["options"]["changelog.replica.version"]
    assert replicate_to_table(src, replica, store, "replica") == 2
    assert _table_state(dst) == _table_state(src) == {1: (10, "a2"), 5: (12, "e")}

    # crash between apply and save: rewind the watermark as if the saves
    # never landed; every redelivered diff is fenced, zero batches apply,
    # state unchanged, watermark re-advances
    store.update("replica", **{"changelog.replica.version": v_before})
    assert replicate_to_table(src, replica, store, "replica") == 0
    assert _table_state(dst) == _table_state(src)
    assert (
        store.read("replica")["options"]["changelog.replica.version"]
        == src.current_version()
    )

    # idle pass: nothing new
    assert replicate_to_table(src, replica, store, "replica") == 0


def test_replicate_to_table_resync_after_expiry_removes_deletes(spark, scratch):
    """A consumer whose saved position expired under expire_snapshots must
    FULL-RESYNC, not just upsert the snapshot: keys deleted in the source
    while the consumer was down have to disappear from the replica."""
    from sqoop_spark.cdc import CdcEngine
    from sqoop_spark.cdc.checkpoint import JobStore
    from sqoop_spark.streaming import replicate_to_table

    src, schema = _kv_table(spark, f"{scratch}/xsrc")
    dst, _ = _kv_table(spark, f"{scratch}/xdst")
    replica = CdcEngine(spark, dst, fingerprint=False)
    store = JobStore(f"{scratch}/x_jobs")
    store.create("replica", {})

    src.append(
        spark.createDataFrame([(1, 1, "a"), (2, 2, "b"), (3, 3, "c")], schema)
    )
    replicate_to_table(src, replica, store, "replica")
    assert _table_state(dst) == _table_state(src)

    # consumer goes dark; the source deletes k=2, updates k=1, adds k=9,
    # and enough commits pass that the saved position expires
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    src.append_delta(
        spark.createDataFrame(
            [(2, 10, "b", "delete"), (1, 11, "a2", "upsert")], op_schema
        )
    )
    for i in range(4):
        src.append(spark.createDataFrame([(9 + i, 20 + i, f"n{i}")], schema))
    src.expire_snapshots(keep_last=2)
    saved = store.read("replica")["options"]["changelog.replica.version"]
    assert not src.manifest_exists(saved)

    assert replicate_to_table(src, replica, store, "replica") == 1
    assert _table_state(dst) == _table_state(src)
    assert 2 not in _table_state(dst)


def test_cli_replicate_lake_to_lake(spark, scratch, capsys):
    """`replicate` tool end-to-end: first pass bootstraps (creating the
    replica from the source's shape), later passes tail new commits."""
    import json

    from sqoop_spark.cli import main as cli_main

    src, schema = _kv_table(spark, f"{scratch}/clisrc")
    src.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], schema))
    argv = [
        "replicate", "--source", f"{scratch}/clisrc",
        "--target", f"{scratch}/clidst",
        "--job", "r1", "--job-store", f"{scratch}/cli_jobs",
    ]
    assert cli_main(list(argv)) == 0
    assert json.loads(capsys.readouterr().out)["applied"] == 1

    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    src.append_delta(
        spark.createDataFrame([(2, 10, "b2", "upsert"), (3, 11, "c", "upsert")],
                              op_schema)
    )
    assert cli_main(list(argv)) == 0
    assert json.loads(capsys.readouterr().out)["applied"] == 1
    dst = LakeTable(spark, f"{scratch}/clidst")
    assert _table_state(dst) == _table_state(src) == {
        1: (1, "a"), 2: (10, "b2"), 3: (11, "c")
    }


def test_tombstone_only_buckets_read_plain(spark, scratch):
    """After compact() retains delete tombstones, a bucket whose only
    deltas are tombstones must (a) read as a PLAIN base scan — no identity
    resolve, no tombstone files opened, (b) keep the zone-map file skip in
    read_since, (c) drop out of the auto-compact signal, and (d) still
    suppress a late lower-seq upsert once a NEW delta re-touches the
    bucket (the reason tombstones are retained at all)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, f"{scratch}/tomb", schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(10)], schema
    ), batch_id=0)
    # delete keys 0 and 1 (they hash to either bucket; both buckets gain
    # real deltas) at seq 100/101, then compact: tombstones are RETAINED
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append_delta(spark.createDataFrame(
        [(0, 100, "x", "delete"), (1, 101, "x", "delete")], op_schema
    ))
    t.compact()
    entries = t.manifest()["files"]
    tomb = [e for e in entries if e.get("tombstone")]
    assert tomb and all(e.get("delta") for e in tomb)
    assert t.delta_file_counts() == {}, "tombstones are not compaction work"

    def tail(p):
        return "/".join(p.replace("\\", "/").split("/")[-3:])

    base_names = {tail(e["path"]) for e in entries if not e.get("delta")}
    # (a) plain scan: only base files open; deleted keys stay gone
    got = t.read()
    assert {tail(p) for p in got.inputFiles()} == base_names
    assert {r.k for r in got.collect()} == set(range(2, 10))

    # (b) zone-map pruning works again: a fresh append commit is the only
    # thing a watermark read past the old data opens
    t.append(spark.createDataFrame(
        [(k, 200 + k, "new") for k in (20, 21)], schema
    ), batch_id=1)
    since = t.read_since("seq", 150)
    new_names = {
        tail(e["path"])
        for e in t.manifest()["files"]
        if not e.get("delta") and tail(e["path"]) not in base_names
    }
    assert {tail(p) for p in since.inputFiles()} == new_names
    assert {tail(p) for p in since.inputFiles()} < base_names | new_names
    assert {r.k for r in since.collect()} == {20, 21}

    # (d) a late, LOWER-seq upsert of a tombstoned key re-enters through a
    # new delta: the bucket resolves again and the tombstone still wins;
    # a HIGHER-seq upsert legitimately resurrects its key
    t.append_delta(spark.createDataFrame(
        [(0, 50, "late", "upsert"), (1, 300, "back", "upsert")], op_schema
    ))
    rows = {r.k: (r.seq, r.v) for r in t.read().collect()}
    assert 0 not in rows, "tombstone must suppress the lower-seq arrival"
    assert rows[1] == (300, "back")
    # and read_since over the resolved state sees the resurrected row only
    assert {r.k for r in t.read_since("seq", 250).collect()} == {1}


def _seq_table(spark, scratch, name, buckets, **kw):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, name), schema, ["k"],
        num_buckets=buckets, properties={"order_column": "seq"}, **kw
    )
    return t, schema


def test_rebucket_preserves_state_time_travel_and_future_commits(spark, scratch):
    """rebucket(N) is an atomic layout change: logical state identical,
    manifest carries the new bucket count, every file lands in the new
    bucket numbering, prior versions still read with THEIR layout, the
    row-level changelog across the boundary is empty, and subsequent
    merges/deltas use the new bucket fn."""
    t, schema = _seq_table(spark, scratch, "rb", buckets=2)
    t.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(40)], schema
    ), batch_id=0)
    pre_version = t.current_version()
    before = {(r.k, r.seq, r.v) for r in t.read().collect()}

    m = t.rebucket(16)
    assert m["operation"] == "rebucket"
    assert t.num_buckets == 16
    buckets_used = {e["bucket"] for e in t.manifest()["files"]}
    assert buckets_used <= set(range(16)) and len(buckets_used) > 2
    assert {(r.k, r.seq, r.v) for r in t.read().collect()} == before
    # old snapshot reads with its OWN layout and state
    assert {(r.k, r.seq, r.v) for r in t.read(pre_version).collect()} == before
    # the row-level changelog across the boundary is empty: layout moved,
    # data did not
    assert t.changes_between(pre_version, t.current_version()).count() == 0
    # a no-op rebucket does not commit
    v = t.current_version()
    assert t.rebucket(16)["version"] == v

    # future MoR deltas key-resolve against the NEW numbering
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append_delta(spark.createDataFrame(
        [(3, 1000, "new3", "upsert"), (4, 1001, "x", "delete")], op_schema
    ))
    rows = {r.k: (r.seq, r.v) for r in t.read().collect()}
    assert rows[3] == (1000, "new3") and 4 not in rows


def test_rebucket_resolves_deltas_and_carries_tombstones(spark, scratch):
    """rebucket subsumes compact: unmerged deltas are resolved into the new
    base, and winning delete markers are re-written as tombstones in their
    NEW buckets so a late lower-seq upsert stays suppressed afterwards."""
    t, schema = _seq_table(spark, scratch, "rbt", buckets=2)
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(10)], schema
    ), batch_id=0)
    t.append_delta(spark.createDataFrame(
        [(0, 100, "x", "delete"), (5, 101, "v5b", "upsert")], op_schema
    ))

    m = t.rebucket(8)
    tomb = [e for e in m["files"] if e.get("tombstone")]
    assert tomb, "winning delete must carry as a tombstone"
    assert all(e["bucket"] < 8 for e in m["files"])
    assert t.delta_file_counts() == {}, "rebucket leaves no unmerged deltas"
    rows = {r.k: r.v for r in t.read().collect()}
    assert 0 not in rows and rows[5] == "v5b"

    # late LOWER-seq upsert of the deleted key re-enters through a new
    # delta: the carried tombstone still wins in the new bucket
    t.append_delta(spark.createDataFrame(
        [(0, 50, "late", "upsert")], op_schema
    ))
    assert 0 not in {r.k for r in t.read().collect()}

    # invalid count refuses
    with pytest.raises(EngineError, match="rebucket"):
        t.rebucket(0)


def test_append_retry_conflicts_rebase(spark, scratch):
    """Two writers race the same manifest version: with retry_conflicts the
    loser rebases its already-written files onto the winner's manifest
    (Iceberg fast-append retry) — both appends land, nothing is lost, and
    the exactly-once fence still wins over a racing duplicate batch."""
    from sqoop_spark.errors import ConcurrentCommitError

    t1, schema = _seq_table(spark, scratch, "race", buckets=2)
    t2 = LakeTable.load(spark, t1.path)
    t1.append(spark.createDataFrame([(1, 1, "a")], schema), batch_id=0)

    def race_once(handle, competing_rows, competing_batch):
        """Make `handle` lose its first manifest link to a competing
        commit landed mid-window, then pass through."""
        real_write = handle._write_manifest
        state = {"raced": False}

        def racy(manifest):
            if not state["raced"]:
                state["raced"] = True
                t1.append(
                    spark.createDataFrame(competing_rows, schema),
                    batch_id=competing_batch,
                )
            return real_write(manifest)

        handle._write_manifest = racy

    # default (retry_conflicts=0): the loser surfaces the conflict
    race_once(t2, [(2, 2, "b")], 1)
    with pytest.raises(ConcurrentCommitError):
        t2.append(spark.createDataFrame([(3, 3, "c")], schema), batch_id=2)
    t2 = LakeTable.load(spark, t1.path)

    # with retry: rebase onto the winner; BOTH appends' rows are live
    race_once(t2, [(4, 4, "d")], 3)
    m = t2.append(
        spark.createDataFrame([(5, 5, "e")], schema),
        batch_id=4,
        retry_conflicts=2,
    )
    assert m["operation"] == "append"
    got = {r.k for r in t2.read().collect()}
    # k=3 (the unretried loser) never committed; both racing winners and
    # both rebased appends are live
    assert got == {1, 2, 4, 5}
    assert {0, 3, 4} <= set(m["fenced_batch_ids"])

    # a racing DUPLICATE of the same batch id commits exactly once: the
    # retry re-checks the fence against the winner and refuses
    t2 = LakeTable.load(spark, t1.path)
    race_once(t2, [(6, 6, "f")], 9)
    with pytest.raises(EngineError, match="already fenced"):
        t2.append(
            spark.createDataFrame([(7, 7, "g")], schema),
            batch_id=9,
            retry_conflicts=2,
        )
    assert 7 not in {r.k for r in LakeTable.load(spark, t1.path).read().collect()}


def test_append_delta_retry_conflicts(spark, scratch):
    """MoR delta appends rebase the same way — two racing delta writers
    both land, and read-time resolution (order column, not commit order)
    yields the correct newest-wins state."""
    t1, schema = _seq_table(spark, scratch, "race_mor", buckets=2)
    t2 = LakeTable.load(spark, t1.path)
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t1.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], schema))

    real_write = t2._write_manifest
    state = {"raced": False}

    def racy(manifest):
        if not state["raced"]:
            state["raced"] = True
            t1.append_delta(spark.createDataFrame(
                [(1, 100, "a2", "upsert")], op_schema
            ))
        return real_write(manifest)

    t2._write_manifest = racy
    t2.append_delta(
        spark.createDataFrame([(2, 101, "x", "delete")], op_schema),
        retry_conflicts=1,
    )
    rows = {r.k: r.v for r in t2.read().collect()}
    assert rows == {1: "a2"}


def test_overwrite_buckets_disjoint_rebase_and_overlap(spark, scratch):
    """CoW merges to DISJOINT bucket sets can race: the loser rebases onto
    the winner (its carry re-reads the winner's files outside its own
    buckets). A winner that touched the SAME buckets must surface for
    recompute — its state no longer matches what the merge was computed
    against."""
    from sqoop_spark.errors import ConcurrentCommitError

    t1, schema = _seq_table(spark, scratch, "obr", buckets=4)
    t1.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(20)], schema
    ))
    by_bucket: dict[int, list[int]] = {}
    for r in t1.read().select("k", t1.bucket_expr().alias("b")).collect():
        by_bucket.setdefault(r.b, []).append(r.k)
    (b_a, keys_a), (b_b, keys_b) = sorted(by_bucket.items())[:2]

    def upd(keys, tag):
        return spark.createDataFrame([(k, 100 + k, tag) for k in keys], schema)

    def race_once(handle, fn):
        real = handle._write_manifest
        state = {"raced": False}

        def racy(manifest):
            if not state["raced"]:
                state["raced"] = True
                fn()
            return real(manifest)

        handle._write_manifest = racy

    # disjoint: t1 wins with a bucket-A overwrite mid-window; t2's
    # bucket-B merge rebases and BOTH merges' effects are live
    t2 = LakeTable.load(spark, t1.path)
    race_once(t2, lambda: t1.overwrite_buckets(upd(keys_a, "a2"), [b_a]))
    t2.overwrite_buckets(upd(keys_b, "b2"), [b_b], retry_conflicts=1)
    rows = {r.k: r.v for r in t2.read().collect()}
    assert all(rows[k] == "a2" for k in keys_a)
    assert all(rows[k] == "b2" for k in keys_b)

    # overlap: the winner rewrote OUR buckets — retries must NOT absorb it
    t3 = LakeTable.load(spark, t1.path)
    race_once(t3, lambda: t1.overwrite_buckets(upd(keys_b, "b3"), [b_b]))
    with pytest.raises(ConcurrentCommitError, match="recompute"):
        t3.overwrite_buckets(upd(keys_b, "b4"), [b_b], retry_conflicts=3)
    # the winner's state stands untouched
    assert {r.v for r in t3.read().filter(F.col("k").isin(keys_b)).collect()} == {"b3"}


def test_commit_stale_base_detected(spark, scratch):
    """A commit computed against a stale snapshot must raise, not silently
    drop the interleaved commit's files from the carry — the base manifest
    pins the version the atomic link targets."""
    from sqoop_spark.errors import ConcurrentCommitError

    t, schema = _seq_table(spark, scratch, "stale", buckets=2)
    t.append(spark.createDataFrame([(1, 1, "a")], schema))
    old = t.manifest()
    t.append(spark.createDataFrame([(2, 2, "b")], schema))
    with pytest.raises(ConcurrentCommitError):
        t._commit("merge", old["files"], None, None, None, base=old)
    # nothing was lost
    assert {r.k for r in t.read().collect()} == {1, 2}


def test_compact_retry_recompute_around_live_ingest(spark, scratch):
    """A compactor racing a live delta writer loses the base-pinned commit;
    with retry_recompute it re-resolves from the fresh manifest and the
    racer's delta is INCLUDED in the compacted base — the standing-
    compactor loop (ingest never waits, compaction retries around it)."""
    from sqoop_spark.errors import ConcurrentCommitError

    t1, schema = _seq_table(spark, scratch, "cmp_race", buckets=2)
    op_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    t1.append(spark.createDataFrame(
        [(k, k, f"v{k}") for k in range(8)], schema
    ))
    t1.append_delta(spark.createDataFrame(
        [(1, 100, "v1b", "upsert")], op_schema
    ))
    t2 = LakeTable.load(spark, t1.path)

    real = t2._write_manifest
    state = {"raced": False}

    def racy(manifest):
        if not state["raced"]:
            state["raced"] = True
            t1.append_delta(spark.createDataFrame(
                [(2, 101, "x", "delete")], op_schema
            ))
        return real(manifest)

    t2._write_manifest = racy

    # without retries the conflict surfaces (state it resolved is stale)
    with pytest.raises(ConcurrentCommitError):
        t2.compact()
    t2 = LakeTable.load(spark, t1.path)
    t2._write_manifest = racy  # already raced; passes through

    m = t2.compact(retry_recompute=2)
    assert m["operation"] == "compact"
    assert t2.delta_file_counts() == {}, "the racer's delta was compacted too"
    rows = {r.k: r.v for r in t2.read().collect()}
    assert rows[1] == "v1b" and 2 not in rows


def test_rebucket_preserves_blind_append_duplicates(spark, scratch):
    """A blind-append table (no merge key semantics in use — duplicate
    'keys' are legitimate rows) must migrate WITHOUT key resolution:
    rebucket re-hashes plain buckets as-is, matching read()'s contract of
    never resolving delta-free buckets."""
    t, schema = _seq_table(spark, scratch, "rb_dup", buckets=2)
    rows = [(1, i, f"e{i}") for i in range(5)] + [(2, 9, "x")]
    t.append(spark.createDataFrame(rows, schema))
    assert t.read().count() == 6

    t.rebucket(8)
    got = sorted((r.k, r.seq, r.v) for r in t.read().collect())
    assert got == sorted(rows), "layout-only migration must not drop rows"
    assert t.num_buckets == 8


def test_append_retry_refuses_rebucket_winner(spark, scratch):
    """An append that loses its commit race to a REBUCKET must not rebase:
    its files' bucket ids were computed under the old numbering. The
    retry surfaces a ConcurrentCommitError naming the layout change."""
    from sqoop_spark.errors import ConcurrentCommitError

    t1, schema = _seq_table(spark, scratch, "rb_race", buckets=2)
    t1.append(spark.createDataFrame([(k, k, f"v{k}") for k in range(8)], schema))
    t2 = LakeTable.load(spark, t1.path)

    real = t2._write_manifest
    state = {"raced": False}

    def racy(manifest):
        if not state["raced"]:
            state["raced"] = True
            t1.rebucket(16)
        return real(manifest)

    t2._write_manifest = racy
    with pytest.raises(ConcurrentCommitError, match="rebucket"):
        t2.append(
            spark.createDataFrame([(100, 100, "new")], schema),
            retry_conflicts=5,
        )
    # the rebucket winner's state is intact; the stale append never landed
    t3 = LakeTable.load(spark, t1.path)
    assert t3.num_buckets == 16
    assert 100 not in {r.k for r in t3.read().collect()}


def test_empty_batch_fence_rebases_on_race(spark, scratch):
    """An empty micro-batch's fence-only commit changes no buckets, so a
    lost race must rebase under the same retry budget as the non-empty
    path instead of killing the stream."""
    from sqoop_spark.cdc.merge import merge_apply

    t1, schema = _seq_table(spark, scratch, "empty_race", buckets=2)
    t1.append(spark.createDataFrame([(1, 1, "a")], schema))
    t2 = LakeTable.load(spark, t1.path)

    real = t2._write_manifest
    state = {"raced": False}

    def racy(manifest):
        if not state["raced"]:
            state["raced"] = True
            t1.append(spark.createDataFrame([(2, 2, "b")], schema))
        return real(manifest)

    t2._write_manifest = racy
    empty = spark.createDataFrame([], T.StructType(
        schema.fields + [T.StructField("op", T.StringType())]
    ))
    stats = merge_apply(t2, empty, batch_id=77, order_col="seq",
                        commit_retry_disjoint=2)
    assert stats.rows_in == 0 and stats.buckets_touched == 0
    assert 77 in LakeTable.load(spark, t1.path).fenced_batch_ids()
    assert {r.k for r in t2.read().collect()} == {1, 2}


def test_widen_column_int_to_long_and_float_to_double(spark, scratch):
    """Safe promotion is metadata-only: old int32/float32 files read back
    as long/double via the column-id cast; post-widen appends carry the
    wide type; both generations union in one read."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("x", T.FloatType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "widen1"), schema, ["k"], num_buckets=2
    )
    t.append(spark.createDataFrame([("a", 1, 1.5), ("b", 2, 2.5)], schema))
    files_before = {e["path"] for e in t.manifest()["files"]}
    m = t.widen_column("n", "bigint")
    assert m["operation"] == "evolve"
    t.widen_column("x", "double")
    # no data rewrite
    assert {e["path"] for e in t.manifest()["files"]} == files_before
    got = t.read()
    assert dict(got.dtypes)["n"] == "bigint"
    assert dict(got.dtypes)["x"] == "double"
    # a post-widen append with values only the wide type can hold
    t.append(
        spark.createDataFrame(
            [("c", 2**40, 1e300)], t.schema()
        )
    )
    vals = {r.k: (r.n, r.x) for r in t.read().collect()}
    assert vals["a"] == (1, 1.5) and vals["c"] == (2**40, 1e300)


def test_widen_column_refusals(spark, scratch):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "widen2"), schema, ["k"], num_buckets=2
    )
    with pytest.raises(IncompatibleSchemaError, match="key column"):
        t.widen_column("k", "string")
    with pytest.raises(IncompatibleSchemaError, match="not a safe promotion"):
        t.widen_column("n", "int")  # narrowing
    with pytest.raises(IncompatibleSchemaError, match="not a safe promotion"):
        t.widen_column("s", "bigint")  # cross-family
    with pytest.raises(IncompatibleSchemaError, match="no such column"):
        t.widen_column("zz", "bigint")


def test_widen_column_decimal_precision(spark, scratch):
    from decimal import Decimal

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("d", T.DecimalType(10, 2)),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "widen3"), schema, ["k"], num_buckets=1
    )
    t.append(spark.createDataFrame([("a", Decimal("1.25"))], schema))
    t.widen_column("d", "decimal(20,2)")
    t.append(
        spark.createDataFrame(
            [("b", Decimal("123456789012345678.99"))], t.schema()
        )
    )
    got = sorted((r.k, str(r.d)) for r in t.read().collect())
    assert got == [("a", "1.25"), ("b", "123456789012345678.99")]
    with pytest.raises(IncompatibleSchemaError, match="not a safe promotion"):
        t.widen_column("d", "decimal(22,3)")  # scale change


def test_evolve_commits_pin_their_base(spark, scratch, monkeypatch):
    """widen/add/rename/drop read the manifest once and carry its file
    list into the commit; a commit that lands in between must surface as
    ConcurrentCommitError — pre-fix the stale carry silently dropped the
    interleaved writer's files (lost update)."""
    from sqoop_spark.errors import ConcurrentCommitError

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "widenrace"), schema, ["k"], num_buckets=1
    )
    t.append(spark.createDataFrame([(1, 10)], schema))
    stale = t.manifest()
    t.append(spark.createDataFrame([(2, 20)], schema))  # the racing writer

    real = LakeTable.manifest
    calls = {"n": 0}

    def first_read_is_stale(self, version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale
        return real(self, version)

    monkeypatch.setattr(LakeTable, "manifest", first_read_is_stale)
    with pytest.raises(ConcurrentCommitError):
        t.widen_column("n", "bigint")
    monkeypatch.setattr(LakeTable, "manifest", real)
    # nothing was lost and the widen still works against fresh state
    assert {r.k for r in t.read().collect()} == {1, 2}
    t.widen_column("n", "bigint")
    assert t.schema()["n"].dataType.simpleString() == "bigint"
