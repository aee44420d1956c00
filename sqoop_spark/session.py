"""SparkSession construction tuned for the CDC engine.

Defaults are chosen for scale-out behavior (AQE on, skew-join on, Arrow on)
so the same code path that runs on local[N] in tests would run unchanged on a
multi-executor cluster via ``spark-submit --py-files``.

DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on, every
``F.col``, ``cast``, ``alias`` and DataFrame call goes through PySpark's
``_with_origin`` wrapper, which adds py4j round trips per call (the active
session, a ``conf.get`` of the stack-trace depth, and setting and clearing
the JVM-side origin); that was more than half of the round trips of a small
CDC exec. The cost: an analysis error's message no longer carries the
fragment naming the Python file and line of the offending call. Pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`` to
get the call sites back; the setting is read once per Python process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "sqoop-spark-cdc",
    parallelism: int | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
    hive_metastore: str | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``parallelism`` sets ``local[N]``; None → ``local[$SPARK_GRAFT_CPUS]``
    (default all cores). On a real cluster the master is supplied by
    spark-submit and this builder's master is ignored.

    ``hive_metastore``: enable the Hive catalog backed by an embedded
    Derby metastore rooted at this directory (created if absent) — the
    ``--hive-import`` publish target. Catalog choice is fixed at JVM
    start, so a pre-existing non-Hive session in the same process raises
    instead of silently publishing to the in-memory catalog.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # int64 micros, not INT96: INT96 timestamps carry NO parquet
        # footer statistics (zone maps / manifest bounds stay empty for
        # every timestamp column) and are forbidden by the Iceberg spec.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # no Python call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if hive_metastore:
        d = os.path.abspath(hive_metastore)
        os.makedirs(d, exist_ok=True)
        builder = (
            builder.config("spark.sql.warehouse.dir", os.path.join(d, "warehouse"))
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={os.path.join(d, 'metastore_db')};"
                "create=true",
            )
            # keep derby.log out of the working directory
            .config(
                "spark.driver.extraJavaOptions",
                f"-Dderby.stream.error.file={os.path.join(d, 'derby.log')}",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    session = builder.getOrCreate()
    if hive_metastore:
        from sqoop_spark.errors import EngineError

        if (
            session.conf.get("spark.sql.catalogImplementation", "in-memory")
            != "hive"
        ):
            raise EngineError(
                "hive metastore requested but the existing SparkSession in "
                "this process was built without Hive support (the catalog "
                "is fixed at JVM start) — run the hive-import in its own "
                "process"
            )

        # getOrCreate silently DROPS static confs on an existing session:
        # a prior Hive session rooted at a different directory would pass
        # the catalog check and publish into the WRONG metastore. Compare
        # the session's actual warehouse root with the requested one.
        def _norm(p: str) -> str:
            from urllib.parse import unquote

            for pre in ("file://", "file:"):
                if p.startswith(pre):
                    p = unquote(p[len(pre):])
                    break
            # realpath: Spark may qualify the warehouse dir through a
            # symlink-resolved form of the SAME directory — that must not
            # spuriously raise
            return os.path.realpath(os.path.abspath(p)).rstrip("/")

        want = os.path.join(os.path.abspath(hive_metastore), "warehouse")
        got = session.conf.get("spark.sql.warehouse.dir", "")
        if _norm(got) != _norm(want):
            raise EngineError(
                "hive metastore requested at "
                f"{os.path.abspath(hive_metastore)!r} but the existing "
                f"SparkSession in this process is rooted at {got!r} (the "
                "warehouse/metastore location is fixed at JVM start) — "
                "run the hive-import in its own process"
            )
    return session
