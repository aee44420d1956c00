"""Physical-plan quality gates + validation/identifier units.

The scale contract is about plans, not just answers: watermark predicates
must reach the parquet scan (PushedFilters), bucket pruning must skip
files, the newest-wins reduce must shuffle once, and a small merge side
must broadcast when hinted. These tests pin that — a regression that
keeps answers right but silently scans everything fails here.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.cdc import CdcEngine
from sqoop_spark.cdc.merge import MergeMode, merge_frames, newest_wins_reduce
from sqoop_spark.cdc.watermark import IncrementalMode, incremental_slice
from sqoop_spark.datagen import synthesize_change_events
from sqoop_spark.errors import ValidationFailure
from sqoop_spark.lake import LakeTable
from sqoop_spark.schema import clean_identifier, clean_identifiers
from sqoop_spark.validation import (
    AbsoluteValidationThreshold,
    PercentageValidationThreshold,
    validate_row_counts,
)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    d = os.path.join(str(tmp_path_factory.mktemp("staged")), "tail")
    synthesize_change_events(spark, 5000, batch_size=2500).write.partitionBy(
        "batch_id"
    ).parquet(d)
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_watermark_filter_pushed_to_scan(spark, staged):
    ev = spark.read.parquet(staged)
    sl = incremental_slice(ev, IncrementalMode.APPEND, "event_seq", 2500)
    explained = sl.df._sc._jvm.PythonSQLUtils.explainString(
        sl.df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in explained
    assert "GreaterThan(event_seq" in explained


def test_batch_filter_prunes_partitions(spark, staged):
    ev = spark.read.parquet(staged)
    one = ev.filter(F.col("batch_id") == 0)
    explained = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    # partition filter on the batch_id directory column, not a data filter
    assert "PartitionFilters: [isnotnull(batch_id" in explained.replace("#", "").replace(
        "L", ""
    ) or "batch_id" in explained.split("PartitionFilters")[1].split("]")[0]


def test_bucket_pruned_read_skips_files(spark, scratch):
    ev = synthesize_change_events(spark, 5000, batch_size=5000)
    eng = CdcEngine.create_table(spark, os.path.join(scratch, "t"), num_buckets=16)
    eng.replay(ev)
    all_files = eng.table.manifest()["files"]
    subset = eng.table._entries(buckets=[0, 1])
    assert 0 < len(subset) < len(all_files)
    assert {e["bucket"] for e in subset} == {0, 1}


def test_newest_wins_single_shuffle(spark, staged):
    ev = spark.read.parquet(staged)
    plan = _plan(newest_wins_reduce(ev, ["repo", "path"], "event_seq"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowExec" in plan or "Window" in plan


def test_newest_wins_partial_window_group_limit(spark, staged):
    """Skew resistance of the UNSALTED reduce: Catalyst must insert a
    partial WindowGroupLimit below the Exchange (row_number <= 1 pushed
    map-side), so a hot key forwards at most one row per map task — the
    optimizer-native analog of salting (bench skew triplet; Spark ≥3.5
    InferWindowGroupLimit)."""
    ev = spark.read.parquet(staged)
    plan = _plan(newest_wins_reduce(ev, ["repo", "path"], "event_seq"))
    assert "WindowGroupLimit" in plan, plan
    # Partial (map-side) instance present, not just the final one
    assert "Partial" in plan.split("Exchange hashpartitioning")[-1] or (
        plan.count("WindowGroupLimit") >= 2
    ), plan


def _mor_seq_table(spark, path):
    """A 2-bucket MoR table whose every bucket holds three unmerged delta
    commits with disjoint ``seq`` ranges (0-9, 10-19, 20-29)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, path, schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    ops = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    for lo in (0, 10, 20):
        t.append_delta(spark.createDataFrame(
            [(lo + i, lo + i, f"v{i % 3}", "upsert") for i in range(10)], ops
        ))
    assert set(t.delta_file_counts()) == {0, 1}
    return t


def test_read_since_watermark_below_window_in_delta_buckets(spark, scratch):
    """With deltas pending, the watermark on the order column reaches the
    delta-bucket parquet scans (below the newest-wins Window), and only
    files above it are listed."""
    t = _mor_seq_table(spark, os.path.join(scratch, "t"))
    df = t.read_since("seq", 19)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scans = [
        s for s in explained.split("\n\n")
        if s.strip().startswith("(") and "Scan parquet" in s
    ]
    assert scans and all("GreaterThan(seq,19)" in s for s in scans), explained
    tree = _plan(df)
    assert "Window" in tree and tree.index("Window") < tree.index("> 19)"), tree
    above = [e for e in t.manifest()["files"] if e["stats"]["seq"][1] > 19]
    assert len(df.inputFiles()) == len(above) == 2


def test_empty_read_parts_are_not_rdd_scans(spark, scratch):
    """An empty part of a logical read is a local relation the optimizer
    drops, never a ``Scan ExistingRDD`` that every action runs."""
    t = _mor_seq_table(spark, os.path.join(scratch, "t"))
    for df in (
        t.read_since("seq", 19),
        t.read_since("v", "v1"),
        t.scan("v = 'v1'"),
    ):
        assert "ExistingRDD" not in _plan(df), _plan(df)


def test_read_files_empty_has_snapshot_schema(spark, scratch):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("amount", T.DecimalType(12, 2)),
            T.StructField("seq", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(scratch, "t"), schema, ["k"], num_buckets=2,
        properties={"order_column": "seq"},
    )
    plain = t._read_files([])
    assert plain.schema == t.schema() and plain.count() == 0
    with_op = t._read_files([], with_op=True)
    assert with_op.schema == T.StructType(
        t.schema().fields + [T.StructField("_op", T.StringType())]
    )
    assert with_op.count() == 0


def test_merge_frames_join_strategies(spark, staged):
    ev = spark.read.parquet(staged)
    old = ev.filter(F.col("event_seq") < 2500).select(
        "repo", "path", "commit", "event_seq"
    )
    new = ev.filter(F.col("event_seq") >= 4900)
    # UPDATE_ONLY → left join → broadcast hint becomes a BroadcastHashJoin
    merged = merge_frames(
        old, new, ["repo", "path"], mode=MergeMode.UPDATE_ONLY, broadcast_new=True
    )
    assert "Broadcast" in _plan(merged)
    # ALLOW_INSERT needs unmatched new keys → full outer → shuffle join
    # (Spark has no broadcast full-outer); result must still be correct
    full = merge_frames(
        old, new, ["repo", "path"], mode=MergeMode.ALLOW_INSERT, broadcast_new=True
    )
    assert "FullOuter" in _plan(full)


def test_whole_stage_codegen_in_transform_path(spark, staged):
    from sqoop_spark.schema import apply_type_mapping

    ev = spark.read.parquet(staged)
    out = apply_type_mapping(ev, {"event_seq": "BIGINT", "repo": "VARCHAR"})
    plan = _plan(out)
    # '*' marks whole-stage-codegen'd operators in the executedPlan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan


# -- validation units --------------------------------------------------------


def test_rowcount_validator():
    r = validate_row_counts(100, 100)
    assert r.ok
    with pytest.raises(ValidationFailure, match="RowCountValidator"):
        validate_row_counts(100, 99)
    assert validate_row_counts(100, 99, abort_on_failure=False).ok is False
    assert AbsoluteValidationThreshold(margin=2).accept(100, 98)
    assert PercentageValidationThreshold(0.05).accept(100, 96)
    assert not PercentageValidationThreshold(0.05).accept(100, 90)
    assert PercentageValidationThreshold(0.05).accept(0, 0)


def test_clean_identifiers(spark):
    assert clean_identifier("a b-c") == "a_b_c"
    assert clean_identifier("2fast") == "_2fast"
    assert clean_identifier("select") == "select_col"
    df = spark.createDataFrame([(1, 2, 3)], ["a b", "a-b", "ok"])
    out = clean_identifiers(df)
    assert out.columns == ["a_b", "a_b_1", "ok"]


def test_first_arrival_dedup_partial_window_group_limit(spark, staged):
    """The ascending keep-first window gets the same map-side
    WindowGroupLimit partial pre-reduce as newest-wins: a redelivery storm
    on one hot event id is bounded to <= 1 row per map task pre-shuffle."""
    from sqoop_spark.cdc.merge import first_arrival_dedup

    ev = spark.read.parquet(staged).withColumn(
        "ingest_seq", F.col("event_seq")
    )
    plan = _plan(first_arrival_dedup(ev, ["event_seq"], "ingest_seq"))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("Exchange hashpartitioning")[-1] or (
        plan.count("WindowGroupLimit") >= 2
    ), plan
