"""Driver-side bucket hash: ``driver_bucket`` must agree with the writer's
Spark expression ``pmod(xxhash64(keys), B)`` bit for bit, or point
lookups would prune to the wrong bucket and silently miss rows.

Also pins that ``bucket_of`` and building a ``lookup`` DataFrame start no
Spark job for string and integral keys, that the JVM fallback (date,
decimal keys) still returns the bucket the writer assigned, and that a
snapshot read before a ``rebucket`` hashes under that snapshot's layout.
"""

import datetime
import decimal
import os
import time

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.lake import LakeTable
from sqoop_spark.lake.table import driver_bucket

_INTS = {
    "tinyint": (T.ByteType(), 8),
    "smallint": (T.ShortType(), 16),
    "int": (T.IntegerType(), 32),
    "bigint": (T.LongType(), 64),
}
_KINDS = ["string", *_INTS]


def _spark_type(kind):
    return T.StringType() if kind == "string" else _INTS[kind][0]


def _values(kind):
    if kind == "string":
        # no lone surrogates: they have no UTF-8 encoding
        return st.text(st.characters(blacklist_categories=("Cs",)), max_size=80)
    bits = _INTS[kind][1]
    lo, hi = -(1 << bits - 1), (1 << bits - 1) - 1
    return st.one_of(st.sampled_from([lo, hi, 0]), st.integers(lo, hi))


@st.composite
def _cases(draw):
    kinds = draw(st.lists(st.sampled_from(_KINDS), min_size=1, max_size=3))
    rows = draw(
        st.lists(
            st.tuples(*[_values(k) for k in kinds]), min_size=1, max_size=20
        )
    )
    return kinds, rows, draw(st.sampled_from([1, 4, 7, 32]))


def _spark_buckets(spark, kinds, rows, num_buckets):
    schema = T.StructType(
        [T.StructField(f"c{i}", _spark_type(k)) for i, k in enumerate(kinds)]
    )
    df = spark.createDataFrame(rows, schema)
    expr = F.pmod(F.xxhash64(*df.columns), F.lit(num_buckets)).cast("int")
    return [r[0] for r in df.select(expr).collect()]


def _driver_buckets(kinds, rows, num_buckets):
    types = [_spark_type(k) for k in kinds]
    return [driver_bucket(list(r), types, num_buckets) for r in rows]


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_cases())
@example(
    case=(["string", "bigint"], [("ü€😀" * 9, -(1 << 63)), ("", (1 << 63) - 1)], 7)
)
@example(
    case=(
        ["tinyint", "smallint", "int"],
        [(-128, -32768, -(1 << 31)), (127, 32767, (1 << 31) - 1), (0, 0, 0)],
        32,
    )
)
def test_driver_bucket_matches_spark(spark, case):
    kinds, rows, nb = case
    assert _driver_buckets(kinds, rows, nb) == _spark_buckets(spark, kinds, rows, nb)


def test_driver_bucket_every_string_length(spark):
    # every UTF-8 length 0..80 (4/8/32-byte stripe tails) in 1-, 2-, 3-
    # and 4-byte characters, single and chained with an int column
    rows = [
        (ch * n, n) for ch in ("a", "é", "€", "😀") for n in range(81)
        if len((ch * n).encode()) <= 320
    ]
    for kinds in (["string"], ["string", "int"]):
        cut = [r[: len(kinds)] for r in rows]
        for nb in (1, 4, 7, 32):
            assert _driver_buckets(kinds, cut, nb) == _spark_buckets(
                spark, kinds, cut, nb
            )


def test_driver_bucket_declines_other_types():
    assert driver_bucket([datetime.date(2024, 1, 2)], [T.DateType()], 4) is None
    assert driver_bucket([1], [T.DecimalType(10, 2)], 4) is None
    # out of range or not a Python int: the JVM cast decides
    assert driver_bucket([128], [T.ByteType()], 4) is None
    assert driver_bucket([True], [T.IntegerType()], 4) is None
    assert driver_bucket(["7"], [T.LongType()], 4) is None
    assert driver_bucket(["x"], [T.StringType("UTF8_LCASE")], 4) is None


def _writer_buckets(t, col, version=None):
    """key value -> the bucket the writer filed its row under."""
    out = {}
    for e in t._entries(version):
        for v in pq.read_table(os.path.join(t.path, e["path"])).column(col):
            out[v.as_py()] = e["bucket"]
    return out


@pytest.mark.parametrize(
    "dtype,values",
    [
        (T.DateType(), [datetime.date(2020, 1, 1) + datetime.timedelta(days=i)
                        for i in range(0, 4000, 97)]),
        (T.DecimalType(12, 3), [decimal.Decimal(i).scaleb(-3) * 7
                                for i in range(-4000, 4000, 293)]),
    ],
    ids=["date", "decimal"],
)
def test_bucket_of_fallback_matches_writer(spark, scratch, dtype, values):
    schema = T.StructType(
        [T.StructField("k", dtype), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "t"), schema, ["k"], num_buckets=7
    )
    t.append(spark.createDataFrame([(v, i) for i, v in enumerate(values)], schema))
    written = _writer_buckets(t, "k")
    assert len(written) == len(values) and len(set(written.values())) > 1
    for v, b in written.items():
        assert t.bucket_of({"k": v}) == b, v


def _jobs_in_group(spark, group, fn):
    """``fn()`` and the number of Spark jobs it started. The status
    tracker is fed by the asynchronous listener bus, so a barrier job is
    run after ``fn`` and awaited: once the tracker shows it finished, it
    has seen every earlier job too (the bus delivers in order)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup(f"{group}-barrier", "barrier")
    spark.range(0, 1, 1, 1).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline:
        ids = tracker.getJobIdsForGroup(f"{group}-barrier")
        info = tracker.getJobInfo(ids[0]) if ids else None
        if info is not None and info.status == "SUCCEEDED":
            return out, len(tracker.getJobIdsForGroup(group))
        time.sleep(0.005)
    raise AssertionError("listener bus did not drain within 10 s")


@pytest.mark.parametrize(
    "dtype,keys",
    [
        (T.StringType(), ["key3", "ключ-ü", ""]),
        (T.LongType(), [3, -(1 << 63), 1 << 40]),
    ],
    ids=["string", "bigint"],
)
def test_point_lookup_runs_no_job_before_its_read(spark, scratch, dtype, keys):
    schema = T.StructType(
        [T.StructField("k", dtype), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "t"), schema, ["k"], num_buckets=4
    )
    t.append(spark.createDataFrame([(k, i) for i, k in enumerate(keys)], schema))
    written = _writer_buckets(t, "k")
    for i, k in enumerate(keys):
        b, jobs = _jobs_in_group(
            spark, f"bucket-of-{i}", lambda: t.bucket_of({"k": k})
        )
        assert (b, jobs) == (written[k], 0)
        df, jobs = _jobs_in_group(spark, f"lookup-{i}", lambda: t.lookup({"k": k}))
        assert jobs == 0
        assert [r.v for r in df.collect()] == [i]


def _kv_table(spark, scratch, dtype, keys):
    schema = T.StructType(
        [T.StructField("k", dtype), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "t"), schema, ["k"], num_buckets=4
    )
    t.append(spark.createDataFrame([(k, i) for i, k in enumerate(keys)], schema))
    return t


def test_old_version_lookup_and_scan_after_rebucket(spark, scratch):
    keys = [f"key-{i}" for i in range(40)]
    t = _kv_table(spark, scratch, T.StringType(), keys)
    old = t.current_version()
    t.rebucket(7)
    assert (t.num_buckets, t.manifest(old)["num_buckets"]) == (7, 4)
    for i, k in enumerate(keys):
        assert [r.v for r in t.lookup({"k": k}, version=old).collect()] == [i], k
        assert [r.v for r in t.scan(f"k = '{k}'", version=old).collect()] == [i], k


def test_bucket_of_fallback_uses_the_versions_bucket_count(spark, scratch):
    keys = [datetime.date(2021, 1, 1) + datetime.timedelta(days=31 * i)
            for i in range(10)]
    t = _kv_table(spark, scratch, T.DateType(), keys)
    old = t.current_version()
    t.rebucket(7)
    written = _writer_buckets(t, "k", old)
    assert len(set(written.values())) > 1
    for k, b in written.items():
        assert t.bucket_of({"k": k}, old) == b, k
