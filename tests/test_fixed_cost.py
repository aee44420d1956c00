"""Fixed per-exec costs: Python-worker start-up and py4j round trips.

- A worker task that unpickles an engine UDF swaps in the stat-stamped
  ``zipimporter.invalidate_caches`` (``sqoop_spark/_worker.py``); the
  driver keeps the stdlib one.
- ``build_session`` turns DataFrame call-site capture off, and
  ``extra_conf`` can turn it back on.
- The normalize UDF is built once per argument tuple.
- ``_prepare_df`` casts only mistyped columns and buckets the cast keys.
- A guard on the py4j round trips of one small MoR exec.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark import _worker, transforms
from sqoop_spark.cdc import CdcEngine, JobStore
from sqoop_spark.lake import LakeTable
from sqoop_spark.session import build_session

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_worker_task_installs_stamped_zipimporter(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def invalidate_impl(s: pd.Series) -> pd.Series:
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return s.map(lambda _: f"{f.__module__}.{f.__qualname__}")

    # the engine UDF's unpickling imports sqoop_spark in the task's worker
    df = spark.range(4, numPartitions=2).select(
        invalidate_impl(transforms.sha256_udf(F.col("id").cast("string")))
    )
    assert {r[0] for r in df.collect()} == {"sqoop_spark._worker._stamped_invalidate"}
    assert zipimport.zipimporter.invalidate_caches is _worker._stdlib_invalidate


def test_stamped_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("fixed_cost_mod_a.py", "A = 1\n")
    rereads: list[str] = []
    stdlib = _worker._stdlib_invalidate

    def counting(self):
        rereads.append(self.archive)
        stdlib(self)

    monkeypatch.setattr(_worker, "_stdlib_invalidate", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _worker.install()
    monkeypatch.syspath_prepend(archive)

    def n():
        return rereads.count(archive)

    try:
        assert importlib.import_module("fixed_cost_mod_a").A == 1
        importlib.invalidate_caches()  # no stamp yet: the stdlib re-read
        assert n() == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert n() == 1  # unchanged archive: not re-read
        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("fixed_cost_mod_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert n() == 2
        assert importlib.import_module("fixed_cost_mod_b").B == 2
        importlib.invalidate_caches()
        assert n() == 2
        os.remove(archive)  # stat fails: falls back to the stdlib re-read
        importlib.invalidate_caches()
        assert n() == 3
    finally:
        for m in ("fixed_cost_mod_a", "fixed_cost_mod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)


def test_build_session_turns_call_site_capture_off(spark, monkeypatch):
    assert spark.conf.get(DEBUG_CONF) == "false"
    options: dict = {}

    def get_or_create(builder):
        options.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    build_session()
    assert options[DEBUG_CONF] == "false"
    build_session(extra_conf={DEBUG_CONF: "true"})
    assert options[DEBUG_CONF] == "true"


def test_normalize_udf_cached_per_argument_tuple(spark):
    a = transforms.make_normalize_udf(drop_delims=True)
    assert transforms.make_normalize_udf(drop_delims=True) is a
    b = transforms.make_normalize_udf(null_string="NULL", normalize_newlines=True)
    assert b is not a
    assert transforms.make_normalize_udf(null_string="NULL", normalize_newlines=True) is b
    df = spark.createDataFrame([("x\r\ny\x01",), (None,)], "c string")
    got = df.select(a("c").alias("a"), b("c").alias("b")).collect()
    assert [tuple(r) for r in got] == [("xy", "x\ny\x01"), ("null", "NULL")]


def test_prepare_df_casts_only_mistyped_columns(spark, scratch):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(spark, os.path.join(scratch, "t"), schema, ["k"], num_buckets=4)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k int, v string")
    prepared = t._prepare_df(df)
    assert [(f.name, f.dataType) for f in prepared.schema] == [
        ("k", T.LongType()), ("v", T.StringType()), ("_bucket", T.IntegerType())
    ]
    want = spark.createDataFrame([(i, f"v{i}") for i in range(20)], schema)
    want = want.withColumn("_bucket", t.bucket_expr())
    assert sorted(prepared.collect()) == sorted(want.collect())


def test_mor_exec_py4j_round_trips(spark, scratch, monkeypatch):
    """One small MoR saved-job exec on a 4-bucket table stays under a
    py4j round-trip budget. Garbage-collection deletes of Python-side
    JavaObject proxies are not counted: how many land inside the exec
    depends on when the collector runs. With call-site capture on and
    ``_prepare_df`` casting every column, this exec made 1,136 round trips;
    now it makes 346."""
    from sqoop_spark.datagen import synthesize_change_events

    ev = synthesize_change_events(spark, 400, batch_size=200, seed=3)
    ev.write.parquet(os.path.join(scratch, "land"))
    ev = spark.read.parquet(os.path.join(scratch, "land"))
    eng = CdcEngine.create_table(
        spark, os.path.join(scratch, "t"), num_buckets=4, merge_strategy="mor"
    )
    store = JobStore(os.path.join(scratch, "jobs"))
    store.create("w", {})
    eng.run_incremental(ev.filter("batch_id = 0"), job="w", job_store=store)

    sends = 0
    send = ClientServerConnection.send_command
    gc_delete = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command, *a, **kw):
        nonlocal sends
        sends += not command.startswith(gc_delete)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    rep = eng.run_incremental(ev, job="w", job_store=store)
    monkeypatch.undo()
    assert rep.rows_applied > 0
    assert sends <= 450, sends
