"""Point lookups agree with the Spark read of the same snapshot.

``LakeTable.lookup`` reads its pruned files on the driver with pyarrow and
resolves newest-wins there; ``read(version).filter(key == k)`` resolves
the same snapshot with Spark. Both must return the same full rows
(``event_ts`` included) over MoR histories with deletes, out-of-order
events, an upsert/delete tie and auto-compaction with retained
tombstones; across column adds, renames, drops and widenings; at a
version older than a ``rebucket``; for string, int, bigint, date and
decimal keys; and through the ``lookup`` CLI, whose ``--key`` values
arrive as strings.
"""

import datetime as dt
import decimal
import json
import os
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.cdc.merge import merge_apply
from sqoop_spark.cdc.watermark import typed_lit
from sqoop_spark.lake import LakeTable

KEYS = {
    "string": (T.StringType(), lambda i: f"key{i}"),
    "int": (T.IntegerType(), lambda i: 7 * i - 10),
    "bigint": (T.LongType(), lambda i: (1 << 40) + i),
    "date": (T.DateType(), lambda i: dt.date(2024, 1, 1) + dt.timedelta(days=i)),
    "decimal": (T.DecimalType(12, 2), lambda i: decimal.Decimal(125 * i) / 100),
}
NKEYS = 5


def _schema(key_type):
    return T.StructType(
        [
            T.StructField("k", key_type),
            T.StructField("seq", T.LongType()),
            T.StructField("event_ts", T.TimestampType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]
    )


def _row(k, seq):
    ts = dt.datetime(2024, 3, 1) + dt.timedelta(seconds=int(seq), microseconds=7)
    return (k, seq, ts, f"v{seq}", int(seq) % 1000)


def _assert_same(t, keys, version=None):
    """lookup(k, version) == read(version).filter(k == key) for each key,
    on full rows and on column names and types."""
    state = t.read(version)
    want = {}
    for r in state.collect():
        want.setdefault(r.k, []).append(tuple(r))
    for k in keys:
        got = t.lookup({"k": k}, version)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in state.schema
        ]
        exp = sorted(want.get(k, []), key=repr)
        assert sorted(map(tuple, got.collect()), key=repr) == exp, (k, version)


@st.composite
def _histories(draw):
    kind = draw(st.sampled_from(sorted(KEYS)))
    batches = draw(
        st.lists(
            st.lists(
                st.tuples(
                    st.integers(0, NKEYS - 1), st.sampled_from(["upsert", "delete"])
                ),
                min_size=1,
                max_size=5,
            ),
            min_size=2,
            max_size=4,
        )
    )
    # distinct order values in shuffled order: batches arrive out of order
    seqs = iter(draw(st.permutations(range(sum(map(len, batches))))))
    batches = [[(i, op, next(seqs)) for i, op in b] for b in batches]
    # key 0 gets an upsert and a delete at one order value above all
    # others, in separate batches: the upsert must win the tie
    tie = 10_000
    at = draw(st.integers(0, len(batches)))
    first = draw(st.sampled_from(["upsert", "delete"]))
    second = "delete" if first == "upsert" else "upsert"
    batches.insert(at, [(0, first, tie)])
    batches.append([(0, second, tie)])
    threshold = draw(st.integers(2, 4))
    old = draw(st.integers(1, len(batches)))
    return kind, batches, threshold, old


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(case=_histories())
def test_lookup_matches_read_over_mor_histories(spark, scratch, case):
    kind, batches, threshold, old = case
    key_type, key_of = KEYS[kind]
    schema = _schema(key_type)
    t = LakeTable.create(
        spark, os.path.join(scratch, uuid.uuid4().hex), schema, ["k"],
        num_buckets=2, properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame(
        [_row(key_of(i), -1 - i) for i in range(NKEYS)], schema
    ))
    batch_schema = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    versions = [t.current_version()]
    for b in batches:
        rows = [_row(key_of(i), seq) + (op,) for i, op, seq in b]
        merge_apply(
            t, spark.createDataFrame(rows, batch_schema), order_col="seq",
            strategy="mor", auto_compact_threshold=threshold,
        )
        versions.append(t.current_version())
    keys = [key_of(i) for i in range(NKEYS + 1)]  # the last one is absent
    _assert_same(t, keys)
    _assert_same(t, keys, versions[old])
    # the tie at the top order value resolves to the upsert
    assert [r.seq for r in t.lookup({"k": key_of(0)}).collect()] == [10_000]


def test_lookup_matches_read_across_schema_evolution_and_rebucket(spark, scratch):
    schema = T.StructType(
        _schema(T.IntegerType()).fields + [T.StructField("f", T.FloatType())]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "evo"), schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    t.append(spark.createDataFrame(
        [_row(i, i) + (i / 10,) for i in range(6)], schema
    ))

    def apply(rows):
        s = T.StructType(t.schema().fields + [T.StructField("op", T.StringType())])
        merge_apply(
            t, spark.createDataFrame(rows, s), order_col="seq", strategy="mor",
            auto_compact_threshold=3,
        )

    apply([_row(1, 100) + (1.5, "upsert"), _row(2, 101) + (None, "delete")])
    t.add_column("extra", "string")
    apply([_row(3, 102) + (3.5, "x3", "upsert"), _row(6, 103) + (6.5, "x6", "upsert")])
    t.rename_column("v", "label")
    apply([_row(4, 104) + (4.5, "x4", "upsert")])
    t.widen_column("n", "bigint")
    t.widen_column("f", "double")
    apply([(5, 105, dt.datetime(2024, 5, 1), "big", 1 << 40, 0.25, "x5", "upsert")])
    t.drop_column("extra")
    apply([_row(3, 106) + (None, "delete"), _row(0, 107) + (0.75, "upsert")])
    before = t.current_version()
    t.rebucket(3)
    keys = list(range(8))
    for v in range(1, t.current_version() + 1):
        _assert_same(t, keys, v)
    assert t.manifest(before)["num_buckets"] == 2
    assert t.lookup({"k": 5}, before).collect()[0].n == 1 << 40


def _cli_lookup(spark, capsys, path, arg):
    from sqoop_spark.cli import main as cli_main

    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    try:
        assert cli_main(["lookup", "--path", path, "--key", arg]) == 0
    finally:
        spark.conf.set(conf, prev)
    out, err = capsys.readouterr()
    rows = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    return rows, json.loads(err.strip().splitlines()[-1])


def test_cli_lookup_casts_string_keys(spark, scratch, capsys):
    for kind, arg, value in [
        ("int", "k=5", 5),
        ("date", "k=2024-01-03", dt.date(2024, 1, 3)),
    ]:
        key_type, _ = KEYS[kind]
        schema = _schema(key_type)
        t = LakeTable.create(
            spark, os.path.join(scratch, kind), schema, ["k"], num_buckets=2,
            properties={"order_column": "seq"},
        )
        keys = (
            list(range(10)) if kind == "int"
            else [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(10)]
        )
        t.append(spark.createDataFrame([_row(k, i) for i, k in enumerate(keys)], schema))
        d = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
        t.append_delta(spark.createDataFrame([_row(value, 50) + ("upsert",)], d))
        rows, summary = _cli_lookup(spark, capsys, t.path, arg)
        want = [
            json.loads(json.dumps(r.asDict(), default=str))
            for r in t.read().filter(F.col("k") == typed_lit(value, key_type)).collect()
        ]
        assert rows == want and [r["seq"] for r in rows] == [50], kind
        assert summary == {
            "matched": 1,
            "files_opened": len(t.lookup_entries({"k": value})),
            "files_total": len(t.manifest()["files"]),
        }
        assert 0 < summary["files_opened"] < summary["files_total"]
