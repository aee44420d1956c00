"""Lost commit races at every retrying entry point.

Each case makes the manifest link lose ``k`` times in a row: just before
the operation's own exclusive link, a second handle commits that same
version (a metadata-only racer that changes no files). A retry budget of
``n`` must survive ``n`` losses and raise on the ``n + 1``-th, and every
re-attempt must re-read the manifest — attempt ``i`` targets the version
after the ``i``-th racer, never the version it started from. The
state-dependent operations recompute (their data write runs again on
every attempt); the append-shaped ones rebase the files they already
wrote.
"""

import os

import pytest
from pyspark.sql import types as T

from sqoop_spark.cdc import merge_apply
from sqoop_spark.errors import ConcurrentCommitError
from sqoop_spark.lake import LakeTable

BUDGET = 2
SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)
RECOMPUTE = {
    "compact", "rewrite_small_files", "rewrite_clustered", "rebucket",
    "delete_where", "update_where", "merge_into",
}
OPERATION = {
    "append": "append",
    "append_delta": "delta-append",
    "overwrite_buckets": "merge",
    "compact": "compact",
    "rewrite_small_files": "rewrite",
    "rewrite_clustered": "cluster",
    "rebucket": "rebucket",
    "delete_where": "delete",
    "update_where": "update",
    "merge_into": "merge-into",
    "publish_staged": "append",
    "merge_apply_empty": "merge",
}


def _prepare(name, spark, t, n):
    """Set up ``t`` for entry point ``name``; returns the call to race."""
    df = lambda rows: spark.createDataFrame(rows, SCHEMA)  # noqa: E731
    if name == "append":
        return lambda: t.append(df([(100, 1, "new")]), retry_conflicts=n)
    if name == "append_delta":
        return lambda: t.append_delta(df([(100, 1, "new")]), retry_conflicts=n)
    if name == "overwrite_buckets":
        b = t.bucket_of({"k": 1})
        src = t.read().withColumn("_bucket", t.bucket_expr()).filter(f"_bucket = {b}")
        return lambda: t.overwrite_buckets(src, [b], retry_conflicts=n)
    if name == "compact":
        t.append_delta(df([(1, 99, "upd")]))
        return lambda: t.compact(retry_recompute=n)
    if name == "rewrite_small_files":
        return lambda: t.rewrite_small_files(retry_recompute=n)
    if name == "rewrite_clustered":
        return lambda: t.rewrite_clustered(retry_recompute=n)
    if name == "rebucket":
        return lambda: t.rebucket(8, retry_recompute=n)
    if name == "delete_where":
        return lambda: t.delete_where("k = 1", retry_recompute=n)
    if name == "update_where":
        return lambda: t.update_where("k = 1", {"v": "'u'"}, retry_recompute=n)
    if name == "merge_into":
        return lambda: t.merge_into(
            df([(1, 50, "m"), (500, 50, "i")]),
            when_matched_update="source",
            retry_recompute=n,
        )
    if name == "publish_staged":
        t.stage(df([(100, 1, "staged")]), "w1")
        return lambda: t.publish_staged("w1", retry_conflicts=n)
    if name == "merge_apply_empty":
        with_op = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
        empty = spark.createDataFrame([], with_op)
        return lambda: merge_apply(
            t, empty, batch_id=7, order_col="seq", commit_retry_disjoint=n
        )
    raise AssertionError(name)


def _lose_link(t, k):
    """Make ``t``'s next ``k`` manifest links lose to a racer; returns the
    list of versions ``t`` tried to link and the list of data writes."""
    racer = LakeTable.load(t.spark, t.path)
    link, write = t._write_manifest, t._write_data_files
    tried, writes = [], []

    def racy_link(manifest):
        tried.append(manifest["version"])
        if len(tried) <= k:
            m = racer.manifest()
            racer._commit("racer", m["files"], None, {"racer": len(tried)}, None)
        return link(manifest)

    def counted_write(*a, **kw):
        writes.append(1)
        return write(*a, **kw)

    t._write_manifest = racy_link
    t._write_data_files = counted_write
    return tried, writes


@pytest.mark.parametrize("losses", [BUDGET, BUDGET + 1])
@pytest.mark.parametrize("name", sorted(OPERATION))
def test_lost_race_retry_budget(spark, scratch, name, losses):
    t = LakeTable.create(
        spark, os.path.join(scratch, "t"), SCHEMA, ["k"],
        num_buckets=4, properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(k, k, f"a{k}") for k in range(20)], SCHEMA))
    t.append(spark.createDataFrame([(k, k, f"b{k}") for k in range(20, 40)], SCHEMA))
    call = _prepare(name, spark, t, BUDGET)
    v0 = t.current_version()
    tried, writes = _lose_link(t, losses)

    if losses > BUDGET:
        with pytest.raises(ConcurrentCommitError):
            call()
        assert tried == [v0 + 1 + i for i in range(BUDGET + 1)]
        assert t.manifest()["operation"] == "racer"
    else:
        call()
        assert tried == [v0 + 1 + i for i in range(losses + 1)], (
            "every attempt must re-read the manifest"
        )
        m = t.manifest()
        assert m["operation"] == OPERATION[name]
        assert m["parent"] == v0 + losses
    if name in RECOMPUTE:
        assert writes and len(writes) % len(tried) == 0, (
            "a base-pinned rewrite must recompute on every attempt"
        )
    else:
        assert len(writes) <= 1, "an append-shaped commit rebases, never rewrites"
