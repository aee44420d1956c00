"""sqoop_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine (NOT a port) reproducing the query semantics of Apache
Sqoop's incremental import / export / merge tools (reference: szvasas/sqoop,
see SURVEY.md) over lake tables of source-code repositories keyed on
``(repo, path)``:

- change-event tail ingestion in ``append`` and ``lastmodified`` modes with
  Sqoop-style ``--check-column`` / ``--last-value`` watermarks
  (reference: tool/ImportTool.java:299-443),
- deterministic newest-wins merge-apply (reference:
  mapreduce/MergeReducerBase.java:31-51, tightened to a total order),
- split-by range partitioning + hot-key salting (reference:
  mapreduce/db/IntegerSplitter.java, TextSplitter.java),
- vectorized pandas/Arrow row transforms (type mapping, null encoding,
  content normalization, sha256 fingerprinting),
- exactly-once batch-id-fenced commits resumable from per-partition lineage
  manifests (upgrade of Sqoop's saved-job metastore,
  metastore/GenericJobStorage.java),
- schema evolution (add/rename/drop column) applied mid-replay.

The sink is an Iceberg-style table. In environments with the Iceberg Spark
runtime on the classpath the engine uses it directly; this repository also
ships a self-contained ``lake`` package implementing the same commit
semantics (atomic snapshot manifests, bucket-pruned copy-on-write merge,
snapshot-summary batch fencing, column-id schema evolution) over plain
parquet, so everything here runs with stock PySpark.
"""

from sqoop_spark.errors import (
    EngineError,
    IncompatibleSchemaError,
    InvalidCheckColumnError,
    MergeKeyRequiredError,
    ValidationFailure,
)

__version__ = "0.1.0"


def _install_worker_patches() -> None:
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is not None:  # inside a Python worker task
        from sqoop_spark import _worker

        _worker.install()


_install_worker_patches()

__all__ = [
    "EngineError",
    "IncompatibleSchemaError",
    "InvalidCheckColumnError",
    "MergeKeyRequiredError",
    "ValidationFailure",
    "__version__",
]
