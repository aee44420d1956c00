"""Predicate-pruned scan: manifest-level file/bucket skipping.

``LakeTable.scan(where)`` must ALWAYS equal ``read().filter(where)`` —
pruning only skips files provably empty for the predicate — and, on a
clustered table, must open strictly fewer files than a full read. The
delta-bucket cases pin the soundness rules: a bucket holding unmerged
MoR deltas is pruned file by file, but only by key-column terms (markers
carry their keys) and by order-column lower bounds — non-key terms never
prune its files (a delta can delete/supersede a base row whose values
the delta's own stats say nothing about). A key term that excludes every
file of a delta bucket drops the bucket.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.cdc.merge import merge_apply
from sqoop_spark.lake import LakeTable
from sqoop_spark.lake.pruning import entry_excluded, parse_terms, split_conjuncts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)
BATCH_SCHEMA = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])


def _clustered(spark, scratch, name, n=400, buckets=2, target_rows=50):
    t = LakeTable.create(
        spark,
        os.path.join(scratch, name),
        SCHEMA,
        ["k"],
        num_buckets=buckets,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame([(k, k, f"v{k}") for k in range(n)], SCHEMA))
    t.rewrite_clustered(column="k", target_rows=target_rows)
    return t


def _rows(df):
    return sorted((r.k, r.seq, r.v) for r in df.collect())


# ---------------------------------------------------------------- parser


def test_split_conjuncts_shapes():
    assert split_conjuncts("a = 1 and b = 2") == ["a = 1 ", " b = 2"]
    assert split_conjuncts("a = 1 or b = 2") is None
    assert split_conjuncts("not a = 1 and b = 2") is None
    # OR inside parens is NOT top-level: one opaque fragment + one conjunct
    parts = split_conjuncts("(a = 1 or b = 2) and c = 3")
    assert len(parts) == 2 and "or" in parts[0]
    # a quoted 'and' never splits
    assert split_conjuncts("v = 'x and y'") == ["v = 'x and y'"]


def test_parse_terms_sound_not_complete():
    assert parse_terms("k = 5") == [("k", "=", [5])]
    assert parse_terms("5 <= k") == [("k", ">=", [5])]
    assert parse_terms("k in (1, 2, 3)") == [("k", "in", [1, 2, 3])]
    assert parse_terms("v = 'it''s'") == [("v", "=", ["it's"])]
    assert parse_terms("`seq` > 1.5e2") == [("seq", ">", [150.0])]
    # BETWEEN mis-splits into unparseable fragments; trailing conjunct kept
    assert parse_terms("k between 1 and 2 and v = 'x'") == [("v", "=", ["x"])]
    # OR / NOT / IS NULL / function terms: nothing prunable
    assert parse_terms("k = 1 or k = 2") == []
    assert parse_terms("v is null") == []
    assert parse_terms("length(v) > 2") == []


def test_entry_excluded_rules():
    st = {"k": [10, 20], "v": ["b", "d"]}
    assert entry_excluded(st, [("k", "=", [5])])
    assert not entry_excluded(st, [("k", "=", [15])])
    assert entry_excluded(st, [("k", ">", [20])])
    assert not entry_excluded(st, [("k", ">", [19])])
    assert entry_excluded(st, [("k", "<", [10])])
    assert entry_excluded(st, [("k", "in", [1, 2, 30])])
    assert not entry_excluded(st, [("k", "in", [1, 15])])
    assert entry_excluded(st, [("v", ">=", ["e"])])
    # type mismatch and missing stat fail open
    assert not entry_excluded(st, [("k", "=", ["5"])])
    assert not entry_excluded(st, [("other", "=", [1])])
    assert not entry_excluded(None, [("k", "=", [5])])
    # a None bound (a decimal key: no JSON encoding) or value fails open
    assert not entry_excluded({"d": [None, None]}, [("d", "=", [5])])
    assert not entry_excluded({"d": [None, 3]}, [("d", ">", [5])])
    assert not entry_excluded(st, [("k", "=", [None])])
    # a naive timestamp spelling never compares with an offset bound (it
    # is a prefix of the instant it may equal); one spelling does
    ts = {"ts": ["2024-06-01T00:00:00+00:00", "2024-06-01T05:00:00+00:00"]}
    assert not entry_excluded(ts, [("ts", "<=", ["2024-06-01T00:00:00"])])
    assert not entry_excluded(ts, [("ts", ">", ["2024-06-01T06:00:00"])])
    assert not entry_excluded(ts, [("ts", "<=", ["2024-06-01T00:00:00+00:00"])])
    assert entry_excluded(ts, [("ts", "<", ["2024-06-01T00:00:00+00:00"])])
    assert entry_excluded(ts, [("ts", ">", ["2024-06-01T05:00:00+00:00"])])
    ntz = {"ts": ["2024-06-01T00:00:00", "2024-06-01T05:00:00.250000"]}
    assert entry_excluded(ntz, [("ts", ">=", ["2024-06-01T05:00:01"])])
    assert not entry_excluded(ntz, [("ts", "=", ["2024-06-01T05:00:00+00:00"])])


# ------------------------------------------------------------ scan values


PREDICATES = [
    "k >= 100 and k < 150",
    "seq > 380",
    "k = 7",
    "k in (3, 777, 399)",
    "v = 'v5' or k > 390",
    "k between 10 and 20 and seq <= 15",
    "v is not null and k < 30",
]


@pytest.mark.parametrize("where", PREDICATES)
def test_scan_matches_plain_filter(spark, scratch, where):
    t = _clustered(spark, scratch, f"sc_{abs(hash(where)) % 10**6}")
    assert _rows(t.scan(where)) == _rows(t.read().filter(where))


def test_scan_prunes_files_on_clustered_range(spark, scratch):
    t = _clustered(spark, scratch, "scp")
    total = len(t.manifest()["files"])
    df = t.scan("k >= 360 and k < 380")
    assert len(df.inputFiles()) < total
    assert _rows(df) == _rows(t.read().filter("k >= 360 and k < 380"))


def test_scan_full_key_equality_prunes_to_one_bucket(spark, scratch):
    t = _clustered(spark, scratch, "scb", buckets=4)
    b = t.bucket_of({"k": 123})
    other = {
        os.path.join(t.path, e["path"])
        for e in t.manifest()["files"]
        if e["bucket"] != b
    }
    df = t.scan("k = 123 and v = 'v123'")
    opened = set(df.inputFiles())
    assert not (opened & other), "files outside the key's bucket were opened"
    assert _rows(df) == [(123, 123, "v123")]


def test_scan_column_filter_never_prunes_delta_bucket(spark, scratch):
    """Deleting k=5 via an unmerged MoR delta must still suppress the base
    row: the delta bucket's files are pruned only by the key term, and the
    kept files resolve before the filter."""
    t = _clustered(spark, scratch, "scd")
    merge_apply(
        t,
        spark.createDataFrame([(5, 9000, None, "delete")], BATCH_SCHEMA),
        batch_id=1,
        order_col="seq",
        strategy="mor",
    )
    got = _rows(t.scan("k < 10"))
    assert (5, 5, "v5") not in got
    assert (4, 4, "v4") in got
    # and a delta INSERT into a range no base file covers is still found
    merge_apply(
        t,
        spark.createDataFrame([(100000, 9001, "fresh", "upsert")], BATCH_SCHEMA),
        batch_id=2,
        order_col="seq",
        strategy="mor",
    )
    assert (100000, 9001, "fresh") in _rows(t.scan("k > 50000"))


def test_scan_key_terms_drop_whole_delta_bucket(spark, scratch):
    """A key-range term excluding EVERY file of a delta bucket drops the
    bucket (markers carry keys — lookup's soundness argument)."""
    t = _clustered(spark, scratch, "sck", buckets=2)
    merge_apply(
        t,
        spark.createDataFrame([(7, 9000, "mor", "upsert")], BATCH_SCHEMA),
        batch_id=1,
        order_col="seq",
        strategy="mor",
    )
    b = t.bucket_of({"k": 7})
    in_bucket = {
        os.path.join(t.path, e["path"])
        for e in t.manifest()["files"]
        if e["bucket"] == b
    }
    # every file in that bucket has k-range within [0, 400] ∪ {7}; a
    # predicate far above excludes them all
    df = t.scan("k > 500000")
    assert not (set(df.inputFiles()) & in_bucket)
    assert df.count() == 0


def test_scan_column_expr_and_unparseable_fall_open(spark, scratch):
    t = _clustered(spark, scratch, "sco", n=60)
    assert _rows(t.scan(F.col("k") == 3)) == [(3, 3, "v3")]
    assert len(_rows(t.scan("k = 3 or k = 4"))) == 2
    assert _rows(t.scan("upper(v) = 'V9'")) == [(9, 9, "v9")]


def test_scan_cli(spark, scratch):
    import json
    import subprocess
    import sys

    t = _clustered(spark, scratch, "sccli")
    r = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "scan",
         "--path", t.path, "--where", "k >= 10 and k < 12",
         "--columns", "k,v"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    rows = [json.loads(line) for line in r.stdout.strip().splitlines()]
    assert sorted(x["k"] for x in rows) == [10, 11]
    summary = json.loads(r.stderr.strip().splitlines()[-1])
    assert summary["matched"] == 2
    assert summary["files_opened"] < summary["files_total"]
    # --limit 0 means ZERO rows, not "no limit"
    r0 = subprocess.run(
        [sys.executable, "-m", "sqoop_spark.cli", "scan",
         "--path", t.path, "--where", "k >= 10 and k < 12",
         "--limit", "0"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r0.returncode == 0, r0.stderr
    assert r0.stdout.strip() == ""
    assert json.loads(r0.stderr.strip().splitlines()[-1])["matched"] == 0


# ------------------------------------------------- temporal literal terms


def test_normalize_terms_temporal_literals():
    from sqoop_spark.lake.pruning import normalize_terms

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("d", T.DateType()),
            T.StructField("v", T.StringType()),
            T.StructField("k", T.LongType()),
        ]
    )
    # space-separator form re-spelled to the stored isoformat ('T') form;
    # TIMESTAMP bounds are UTC instants carrying '+00:00', NTZ ones naive
    assert normalize_terms([("ts", "<=", ["2024-06-15 23:00:00"])], schema) == [
        ("ts", "<=", ["2024-06-15T23:00:00+00:00"])
    ]
    assert normalize_terms([("ntz", "<=", ["2024-06-15 23:00:00"])], schema) == [
        ("ntz", "<=", ["2024-06-15T23:00:00"])
    ]
    # date-only literal probing a timestamp gets midnight, like Spark's cast
    assert normalize_terms([("ts", ">", ["2024-06-15"])], schema) == [
        ("ts", ">", ["2024-06-15T00:00:00+00:00"])
    ]
    # a TIMESTAMP literal is read in the session zone, as Spark casts it;
    # a wall-clock time the zone skips (DST gap) or an unknown zone: DROPPED
    assert normalize_terms(
        [("ts", "=", ["2024-06-15 02:00:00"])], schema, "Europe/Berlin"
    ) == [("ts", "=", ["2024-06-15T00:00:00+00:00"])]
    assert normalize_terms(
        [("ts", "=", ["2024-03-31 02:30:00"])], schema, "Europe/Berlin"
    ) == []
    assert normalize_terms([("ts", "=", ["2024-06-15"])], schema, "No/Such") == []
    # timestamp-shaped literal probing a DATE truncates to the date
    assert normalize_terms([("d", "=", ["2024-06-15 23:00:00"])], schema) == [
        ("d", "=", ["2024-06-15"])
    ]
    # unparseable / tz-aware / numeric literals on temporal columns: DROPPED
    assert normalize_terms([("ts", "=", ["not a time"])], schema) == []
    assert normalize_terms([("ts", "=", ["2024-06-15T00:00:00+02:00"])], schema) == []
    assert normalize_terms([("d", "=", [20240615])], schema) == []
    # string/numeric columns and unknown columns pass through untouched
    assert normalize_terms(
        [("v", "=", ["2024-06-15 23:00:00"]), ("k", ">", [5]), ("zz", "=", [1])],
        schema,
    ) == [("v", "=", ["2024-06-15 23:00:00"]), ("k", ">", [5]), ("zz", "=", [1])]


def test_scan_timestamp_string_literal_sound(spark, scratch):
    """A predicate like ``ts <= '2024-06-05 23:00:00'`` (space separator,
    which Spark casts and matches) must not string-compare against the
    stored isoformat bounds ('T' sorts above ' '): pre-fix the file whose
    min shares the literal's date was wrongly excluded and its matching
    rows silently dropped."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = LakeTable.create(
        spark,
        os.path.join(scratch, "scts"),
        schema,
        ["k"],
        num_buckets=1,
        properties={"order_column": "seq", "stats_columns": "seq,ts"},
    )
    base = dt.datetime(2024, 6, 1)
    t.append(
        spark.createDataFrame(
            [(k, k, base + dt.timedelta(hours=k)) for k in range(200)], schema
        )
    )
    t.rewrite_clustered(column="ts", target_rows=25)
    for where in [
        "ts <= '2024-06-05 23:00:00'",
        "ts >= '2024-06-03 00:00:00' and ts < '2024-06-04 12:00:00'",
        "ts = '2024-06-01 05:00:00'",
        "ts > '2024-06-08'",
        # equal to a file's min bound: the literal must not sort below it
        "ts = '2024-06-01 00:00:00'",
        "ts <= '2024-06-01'",
    ]:
        got = sorted(r.k for r in t.scan(where).collect())
        want = sorted(r.k for r in t.read().filter(where).collect())
        assert got == want, where
        assert got, where  # every predicate above matches something
    # and the canonicalized literal still PRUNES on the clustered axis
    total = len(t.manifest()["files"])
    assert len(t.scan("ts < '2024-06-02 00:00:00'").inputFiles()) < total
    # read_since with a STRING timestamp watermark: same canonicalization
    # and file selection, same soundness + pruning
    since = t.read_since("ts", "2024-06-05 23:00:00")
    want = sorted(
        r.k for r in t.read().filter("ts > '2024-06-05 23:00:00'").collect()
    )
    assert sorted(r.k for r in since.collect()) == want and want
    assert len(since.inputFiles()) < total
    # a datetime watermark equal to a file's min bound keeps that file
    upto = t.read_since("ts", None, upper=base)
    assert sorted(r.k for r in upto.collect()) == [0]
