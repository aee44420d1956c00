"""Incremental reads agree with the filtered full read of the same snapshot.

``LakeTable.read_since(c, lo, upper, version)`` applies ``c > lo`` below
newest-wins and zone-map prunes the files of delta buckets by it when
``c`` is the table's order column; ``read(version).filter(lo < c <= upper)``
resolves every file first. Both must return the same full rows over MoR
histories with deletes, late events below an earlier watermark, an
upsert/delete tie, NULL order values and auto-compaction with retained
tombstones (a tombstone-only bucket included); at older versions; with
``upper`` set and unset; for a bigint and a timestamp order column (the
latter with string watermarks); and on a non-order stats column, whose
delta buckets must still resolve whole.
"""

import datetime as dt
import os
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.cdc.merge import merge_apply
from sqoop_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
        T.StructField("n", T.IntegerType()),
    ]
)
BATCH = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
T0 = dt.datetime(2024, 3, 1)
NKEYS = 6


def _row(k, seq, n, op):
    ts = None if seq is None else T0 + dt.timedelta(seconds=seq, microseconds=7)
    return (k, seq, ts, f"v{seq}-{op}", n, op)


def _build(spark, path, order, batches, threshold):
    """A 2-bucket MoR table: a base preload of every key, then one
    ``merge_apply`` per batch of ``(key, seq, n, op)`` events. Returns
    the table and the version after each commit."""
    t = LakeTable.create(
        spark, path, SCHEMA, ["k"], num_buckets=2,
        properties={"order_column": order, "stats_columns": "seq,ts,n"},
    )
    t.append(spark.createDataFrame(
        [_row(k, -10 - k, k, "upsert")[:-1] for k in range(NKEYS)], SCHEMA
    ))
    versions = [t.current_version()]
    for b in batches:
        merge_apply(
            t, spark.createDataFrame([_row(*e) for e in b], BATCH),
            order_col=order, strategy="mor", auto_compact_threshold=threshold,
        )
        versions.append(t.current_version())
    return t, versions


def _lit(column, seq):
    """The watermark for ``seq`` on ``column``: an int, or a string
    timestamp for ``ts``."""
    if seq is None or column != "ts":
        return seq
    return (T0 + dt.timedelta(seconds=seq)).strftime("%Y-%m-%d %H:%M:%S")


def _sql(column, value):
    return f"timestamp'{value}'" if column == "ts" else str(value)


def _assert_same(t, column, lo, upper, version=None):
    """read_since(column, lo, upper, version) == read(version) filtered by
    ``lo < column <= upper``, on full rows, names and types."""
    state = t.read(version)
    if lo is not None:
        state = state.filter(F.expr(f"{column} > {_sql(column, lo)}"))
    if upper is not None:
        state = state.filter(F.expr(f"{column} <= {_sql(column, upper)}"))
    got = t.read_since(column, lo, upper, version)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in state.schema
    ]
    want = sorted(map(tuple, state.collect()), key=repr)
    assert sorted(map(tuple, got.collect()), key=repr) == want, (
        column, lo, upper, version,
    )


@st.composite
def _histories(draw):
    order = draw(st.sampled_from(["seq", "ts"]))
    batches = draw(
        st.lists(
            st.lists(
                st.tuples(
                    st.integers(0, NKEYS - 1),
                    st.sampled_from(["upsert", "upsert", "delete"]),
                    st.integers(0, 9),
                    st.booleans(),
                ),
                min_size=1,
                max_size=5,
            ),
            min_size=2,
            max_size=5,
        )
    )
    # distinct order values in shuffled order: batches arrive out of order,
    # so later batches carry events below the watermarks of earlier ones
    seqs = iter(draw(st.permutations(range(sum(map(len, batches))))))
    batches = [
        [(k, None if null else next(seqs), n, op) for k, op, n, null in b]
        for b in batches
    ]
    # key 0 gets an upsert and a delete at one order value above all others,
    # in separate batches: the upsert must win the tie
    tie = 100
    at = draw(st.integers(0, len(batches)))
    first = draw(st.sampled_from(["upsert", "delete"]))
    second = "delete" if first == "upsert" else "upsert"
    batches.insert(at, [(0, tie, 3, first)])
    batches.append([(0, tie, 7, second)])
    threshold = draw(st.integers(2, 4))
    old = draw(st.integers(1, len(batches) - 1))
    lo = draw(st.integers(-12, 12))
    upper = draw(st.integers(lo, 30))
    n_lo = draw(st.integers(-1, 8))
    return order, batches, threshold, old, lo, upper, n_lo


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(case=_histories())
def test_read_since_matches_filtered_read_over_mor_histories(spark, scratch, case):
    order, batches, threshold, old, lo, upper, n_lo = case
    t, versions = _build(
        spark, os.path.join(scratch, uuid.uuid4().hex), order, batches, threshold
    )
    for version in (None, versions[old]):
        _assert_same(t, order, _lit(order, lo), None, version)
        _assert_same(t, order, _lit(order, lo), _lit(order, upper), version)
        _assert_same(t, order, None, _lit(order, upper), version)
        _assert_same(t, "n", n_lo, None, version)
    assert [r.seq for r in t.read_since(order, _lit(order, 99)).collect()] == [100]


def test_read_since_matches_filtered_read_on_fixed_history(spark, scratch):
    """Every case in one history, pinned: deletes compacted into retained
    tombstones in both buckets, then deltas in one bucket only, which
    leaves the other tombstone-only; a late event below an earlier
    watermark; an upsert/delete tie; NULL order values."""
    probe = LakeTable.create(
        spark, os.path.join(scratch, "probe"), SCHEMA, ["k"], num_buckets=2
    )
    by_bucket = {0: [], 1: []}
    for k in range(NKEYS):
        by_bucket[probe.bucket_of({"k": k})].append(k)
    a, b = sorted(by_bucket.values(), key=len, reverse=True)
    assert len(a) >= 3 and len(b) >= 2, by_bucket
    batches = [
        # both buckets: a delete each, and a row that later loses
        [(a[0], 5, 9, "delete"), (b[0], 6, 9, "delete"), (a[1], 7, 8, "upsert")],
        # 2nd delta per bucket: auto-compaction keeps both deletes as tombstones
        [(b[1], 8, 1, "upsert"), (a[2], 9, 9, "upsert"), (a[1], None, 9, "upsert")],
        # bucket a only: b is now tombstone-only; a[1] wins above wm 10 with
        # a lower n than its superseded row
        [(a[1], 20, 2, "upsert"), (a[2], 21, 9, "delete"), (a[0], 22, 9, "upsert")],
        # late events below the watermark 10 a consumer has already read,
        # one against a tombstone (it must stay deleted), one under a live
        # newer row; then both halves of a tie
        [(b[0], 3, 9, "upsert"), (a[0], 2, 9, "upsert"), (a[2], 30, 5, "upsert")],
        [(a[2], 30, 6, "delete")],
    ]
    t, versions = _build(spark, os.path.join(scratch, "t"), "seq", batches, 2)
    files = t.manifest(versions[3])["files"]
    assert {e["bucket"] for e in files if e.get("tombstone")} == {0, 1}
    assert LakeTable._resolve_buckets(files) == {t.bucket_of({"k": a[0]})}
    for version in (None, versions[2], versions[3]):
        for lo, upper in [(None, None), (4, None), (10, None), (10, 21),
                          (-1, 7), (21, 30), (30, None), (None, 20)]:
            _assert_same(t, "seq", lo, upper, version)
        for n_lo in (-1, 1, 5, 8):
            _assert_same(t, "n", n_lo, None, version)
    # the tie at 30 goes to the upsert
    assert [tuple(r) for r in t.read_since("seq", 29).select("k", "n").collect()] == [
        (a[2], 5)
    ]


def test_read_since_timestamp_order_with_string_watermark(spark, scratch):
    batches = [
        [(0, 4, 1, "upsert"), (1, 5, 1, "delete"), (2, None, 1, "upsert")],
        [(0, 9, 2, "upsert"), (3, 2, 2, "upsert")],
        [(0, 12, 3, "delete"), (4, 11, 3, "upsert")],
    ]
    t, versions = _build(spark, os.path.join(scratch, "ts"), "ts", batches, 16)
    assert t.delta_file_counts()
    for version in (None, versions[2]):
        for lo, upper in [(3, None), (4, None), (8, 11), (None, 9), (11, None)]:
            _assert_same(t, "ts", _lit("ts", lo), _lit("ts", upper), version)
