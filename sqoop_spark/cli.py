"""CLI — the ``spark-submit --py-files`` surface of the engine.

Mirrors the reference's registered tool set (tool/SqoopTool.java:74-105)
with the subset that has meaning on a lake-native engine:

  import             incremental ingest (append / lastmodified + merge);
                     --connect jdbc: reads over JDBC with split predicates;
                     --validate wires RowCountValidator
  export             lake → parquet/text/JDBC (insert/update/upsert modes)
  merge              two-dataset newest-wins merge (tool/MergeTool.java)
  job                saved jobs: --create/--exec/--list/--show/--delete
                     (tool/JobTool.java:355-368)
  metastore          init/inspect the shared job store; --shutdown is a
                     parity no-op (tool/MetastoreTool.java:50-62 runs an
                     HSQLDB server — ours is a shared-filesystem store)
  codegen            schema + cast-plan emission (ClassWriter analog)
  create-hive-table  Hive DDL emission/execution (TableDefWriter)
  eval               ad-hoc SQL, local or --connect jdbc:
                     (tool/EvalSqlTool.java)
  list-tables        tables under a path, or information_schema w/ --connect
  list-databases     database dirs under a path, or the JDBC catalog
  import-all-tables  every table under a path minus --exclude-tables
                     (tool/ImportAllTablesTool.java)
  history            snapshot audit of a lake table (manifest metadata)
  maintain           compact / rewrite-small-files / expire-snapshots /
                     remove-orphans
  replicate          outbound CDC: one resumable changelog pass into a lake
                     or JDBC replica (the export direction Sqoop lacks)
  bench              the replay benchmark at two parallelism levels

Run as::

    spark-submit --py-files sqoop_spark.zip -m sqoop_spark ...
    python -m sqoop_spark import --events ... --target ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Sequence

from pyspark.sql import SparkSession


def _session(args) -> SparkSession:
    from sqoop_spark.session import build_session

    return build_session(
        app_name="sqoop-spark",
        parallelism=getattr(args, "num_mappers", None),
        shuffle_partitions=getattr(args, "shuffle_partitions", 32) or 32,
        hive_metastore=(
            getattr(args, "hive_metastore", None)
            if getattr(args, "hive_import", False)
            else None
        ),
    )


#: Environment fallback for the connection password — the CLI analog of
#: the reference's non-plaintext credential paths.
PASSWORD_ENV_VAR = "SQOOP_SPARK_PASSWORD"


def resolve_password(args) -> str | None:
    """Credential resolution for --connect paths, mirroring the reference's
    precedence (tool/BaseSqoopTool.java:87 PASSWORD_PATH_ARG /
    PASSWORD_ALIAS_ARG + CredentialsUtil.fetchPassword): ``--password``,
    ``--password-file`` and ``--password-alias`` are mutually exclusive
    (the reference's applyCredentialsOptions error); an explicit
    ``--password`` draws the insecurity warning; ``--password-file``
    reads the secret from disk (one trailing newline stripped — the
    file-was-edited footgun the reference documents), warning when the
    file is readable by group/others; ``--password-alias`` fetches from
    the credential-provider keystore (sqoop_spark/credentials.py — the
    JCEKS CredentialProvider analog, provider path from
    ``--credential-provider`` or $SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH);
    otherwise $SQOOP_SPARK_PASSWORD, else None."""
    given = [
        opt
        for opt, val in (
            ("--password", getattr(args, "password", None)),
            ("--password-file", getattr(args, "password_file", None)),
            ("--password-alias", getattr(args, "password_alias", None)),
        )
        # `is not None`, not truthiness: an explicit empty --password ''
        # must still conflict with --password-file/--password-alias
        # rather than silently overriding them
        if val is not None
    ]
    if len(given) > 1:
        raise SystemExit(
            "Error: Only one of --password, --password-file or "
            "--password-alias can be specified."
        )
    alias = getattr(args, "password_alias", None)
    if alias == "":
        raise SystemExit("Error: --password-alias needs a non-empty alias.")
    if alias:
        from sqoop_spark.credentials import (
            CredentialError,
            fetch_credential,
            resolve_provider_path,
        )

        provider = resolve_provider_path(
            getattr(args, "credential_provider", None)
        )
        if not provider:
            raise SystemExit(
                "Error: --password-alias requires a credential provider "
                "(--credential-provider PATH or "
                "$SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH)."
            )
        try:
            return fetch_credential(provider, alias)
        except CredentialError as e:
            raise SystemExit(f"Error: {e}") from e
    pw = getattr(args, "password", None)
    if pw is not None:
        print(
            "WARNING: Setting your password on the command-line is insecure. "
            "Consider using --password-file instead.",
            file=sys.stderr,
        )
        return pw
    pf = getattr(args, "password_file", None)
    if pf:
        mode = os.stat(pf).st_mode & 0o777
        if mode & 0o077:
            print(
                f"WARNING: password file {pf} is readable by group/others "
                f"(mode {mode:o}); chmod 600 recommended.",
                file=sys.stderr,
            )
        with open(pf, newline="") as f:  # no universal-newline rewriting
            data = f.read()
        # exactly ONE trailing newline stripped (the editor footgun), not
        # every trailing CR/LF — a password legitimately ending in a
        # newline must stay expressible via a doubled final newline
        if data.endswith("\r\n"):
            return data[:-2]
        if data.endswith(("\n", "\r")):
            return data[:-1]
        return data
    return os.environ.get(PASSWORD_ENV_VAR)


def _load_source(spark: SparkSession, args):
    """--table (a parquet/lake path) or --query (free-form SQL); with
    --connect jdbc:... the table/query is read over JDBC with the
    splitter-driven predicate plan (SqlManager.importTable analog)."""
    from sqoop_spark.lake import LakeTable
    from sqoop_spark.sources import freeform_query

    if getattr(args, "connect", None):
        from sqoop_spark.sources.jdbc import (
            build_import_plan,
            bounding_query,
            jdbc_import,
            probe_bounds,
        )

        m = args.num_mappers or 4
        bounds = None
        if m > 1 and not args.split_by:
            if getattr(args, "query", None):
                from sqoop_spark.errors import EngineError

                raise EngineError(
                    "When importing query results in parallel, you must "
                    "specify --split-by."
                )
            # Table mode: the reference auto-splits on the primary key
            # (ImportTool.getSplitColumn); without catalog access we fall
            # back to a single split instead of failing with the
            # query-mode error text (round-2 ADVICE).
            print(
                f"WARNING: no --split-by for table import {args.table}; "
                "falling back to a single split (-m 1). Pass --split-by "
                "for a parallel import.",
                file=sys.stderr,
            )
            m = 1
        if m > 1:
            bsql = bounding_query(
                args.split_by,
                table=None if getattr(args, "query", None) else args.table,
                query=getattr(args, "query", None),
                where=args.where,
                boundary_query=getattr(args, "boundary_query", None),
            )
            bounds = probe_bounds(
                spark, args.connect, bsql,
                {"user": args.username or "", "password": args.password or ""},
            )
        plan = build_import_plan(
            args.connect,
            table=None if getattr(args, "query", None) else args.table,
            query=getattr(args, "query", None),
            columns=[c.strip() for c in args.columns.split(",")] if args.columns else None,
            where=args.where,
            split_by=args.split_by,
            num_mappers=m,
            bounds=bounds,
            boundary_query=getattr(args, "boundary_query", None),
            username=args.username,
            password=args.password,
            driver=getattr(args, "jdbc_driver", None),
        )
        return jdbc_import(spark, plan)

    if getattr(args, "query", None):
        for t in args.register or []:
            name, path = t.split("=", 1)
            spark.read.parquet(path).createOrReplaceTempView(name)
        return freeform_query(
            spark,
            args.query,
            split_by=args.split_by,
            num_mappers=args.num_mappers or 1,
            boundary_query=getattr(args, "boundary_query", None),
        )
    path = args.table
    if LakeTable.exists(path):
        return LakeTable.load(spark, path).read()
    return spark.read.parquet(path)


def cmd_import(args) -> int:
    from sqoop_spark.cdc import CdcEngine, IncrementalMode, JobStore
    from sqoop_spark.cdc.engine import REPOS_SCHEMA
    from sqoop_spark.cdc.merge import MergeMode
    from sqoop_spark.lake import LakeTable
    from sqoop_spark.schema import apply_type_mapping

    spark = _session(args)
    df = _load_source(spark, args)
    # For --connect imports, --columns/--where are already pushed into the
    # JDBC subquery by _load_source — re-applying them Spark-side would
    # break on vendor-specific WHERE syntax Spark's parser rejects, and on
    # --columns that excludes a column --where references.
    if not getattr(args, "connect", None):
        if args.columns:
            df = df.select(*[c.strip() for c in args.columns.split(",")])
        if args.where:
            df = df.filter(args.where)
    if args.map_column:
        mapping = dict(kv.split("=", 1) for kv in args.map_column.split(","))
        df = apply_type_mapping(df, mapping)

    if getattr(args, "as_sequencefile", False):
        # FileLayout.SequenceFile (SqoopOptions.java:86-92,
        # mapreduce/SequenceFileImportMapper.java): rows land as
        # SequenceFile<LongWritable, Text> part files in the target dir —
        # a file-layout import that bypasses the lake table, the same way
        # the reference's sequencefile layout bypasses hive/parquet
        # handling. The Text value is the record's delimited string form
        # (see sqoop_spark/sequencefile.py for why not a generated-class
        # Writable).
        from sqoop_spark.sequencefile import write_sequencefile

        write_sequencefile(df, args.target)
        print(json.dumps({
            "rows": df.count(), "target": args.target,
            "format": "sequencefile",
        }))
        return 0

    if LakeTable.exists(args.target):
        table = LakeTable.load(spark, args.target)
        engine = CdcEngine(
            spark,
            table,
            merge_mode=MergeMode(args.update_mode) if args.merge_key else None,
            salt_partitions=args.salt_partitions,
            dedup_id_cols=(args.dedup_id_cols.split(",")
                           if getattr(args, "dedup_id_cols", None) else None),
        )
    else:
        key_cols = tuple((args.merge_key or "repo,path").split(","))
        engine = CdcEngine.create_table(
            spark,
            args.target,
            schema=df.schema if args.schema_from_source else REPOS_SCHEMA,
            key_columns=key_cols,
            num_buckets=args.num_buckets,
            merge_mode=MergeMode(args.update_mode) if args.merge_key else None,
            salt_partitions=args.salt_partitions,
            dedup_id_cols=(args.dedup_id_cols.split(",")
                           if getattr(args, "dedup_id_cols", None) else None),
        )

    store = JobStore(args.job_store) if args.job else None
    if args.job and args.job not in store.list():
        store.create(args.job, {"incremental.last.value": args.last_value})
    # the watermark BEFORE this run — needed to recount the source slice
    # for --validate (the job store advances it on success)
    prior_last_value = (
        store.read(args.job)["options"].get("incremental.last.value")
        if args.job
        else _parse_last_value(args)
    )

    report = engine.run_incremental(
        df,
        mode=IncrementalMode(args.incremental),
        check_column=args.check_column,
        job=args.job,
        job_store=store,
        last_value=None if args.job else _parse_last_value(args),
    )

    validation = None
    if args.validate:
        # RowCountValidator parity (validation/RowCountValidator.java:36-60,
        # CLI --validate in tool/BaseSqoopTool.java): source row count of
        # the incremental slice vs the rows the run transferred; mismatch
        # aborts (AbortOnFailureHandler).
        from sqoop_spark.cdc.watermark import incremental_slice
        from sqoop_spark.validation import (
            AbsoluteValidationThreshold,
            validate_row_counts,
        )
        from sqoop_spark.cdc.engine import _coerce_last_value

        if report.skipped_batch_ids:
            # a resume legitimately re-transfers nothing for fenced batches
            validation = (
                "Validation skipped: resume run skipped already-fenced "
                f"batches {report.skipped_batch_ids}"
            )
        elif report.counters_missing:
            # events_seen is Observation-derived; when the metrics node was
            # AQE-eliminated or the listener bus unreachable the counters
            # default to 0 — a successful import must not hard-abort on a
            # vacuous comparison (the WARN path of merge._safe_observation).
            validation = (
                "Validation inconclusive: transfer counters unavailable "
                "(observation miss); lineage rows_applied="
                f"{report.rows_applied}"
            )
        else:
            lv = _coerce_last_value(
                df.schema[args.check_column].dataType, prior_last_value
            )
            sl = incremental_slice(
                df, IncrementalMode(args.incremental), args.check_column, lv
            )
            expected = 0 if sl.empty else sl.df.count()
            v = validate_row_counts(
                expected,
                report.events_seen,
                threshold=AbsoluteValidationThreshold(args.validation_threshold),
            )
            validation = v.message

    hive_info = (
        _hive_publish(spark, engine.table, args)
        if getattr(args, "hive_import", False)
        else {}
    )
    print(
        json.dumps(
            {
                "watermark": str(report.watermark),
                "events_seen": report.events_seen,
                "rows_applied": report.rows_applied,
                "batches": len(report.batches),
                "skipped_batch_ids": report.skipped_batch_ids,
                **({"validation": validation} if validation else {}),
                **hive_info,
            }
        )
    )
    return 0


def _parse_last_value(args):
    if args.last_value is None:
        return None
    if args.incremental == "lastmodified":
        import datetime as dt

        return dt.datetime.fromisoformat(args.last_value)
    try:
        return int(args.last_value)
    except ValueError:
        return args.last_value


def cmd_merge(args) -> int:
    from sqoop_spark.cdc.merge import MergeMode, merge_frames

    spark = _session(args)
    old = spark.read.parquet(args.onto)
    new = spark.read.parquet(args.new_data)
    merged = merge_frames(
        old,
        new,
        key_cols=args.merge_key.split(","),
        order_col=args.order_column,
        mode=MergeMode(args.update_mode),
    )
    merged.write.mode("overwrite").parquet(args.target_dir)
    print(json.dumps({"rows": spark.read.parquet(args.target_dir).count()}))
    return 0


def cmd_export(args) -> int:
    """Export a lake table outward — Sqoop's export direction.

    Modes (tool/ExportTool.java:80-93 dispatch):
      insert       blind append to the target (JDBC INSERT analog)
      updateonly   MERGE, matched keys only (--update-key semantics)
      allowinsert  MERGE upsert (vendor upsert SQL analog)
    Targets: parquet dataset or delimited text (--format text, with the
    DelimiterSet/FieldFormatter options).
    """
    from sqoop_spark.cdc.merge import MergeMode, merge_frames
    from sqoop_spark.lake import LakeTable
    from sqoop_spark.sinks import write_delimited

    spark = _session(args)
    since = getattr(args, "since", None)
    changes_since = getattr(args, "changes_since", None)
    src_version = 0
    if LakeTable.exists(args.source):
        t = LakeTable.load(spark, args.source)
        src_version = t.current_version() or 0
        if changes_since is not None:
            # Outbound CDC: ship the row-level snapshot diff (insert/
            # update/delete + _change) instead of the full state — the
            # incremental direction Sqoop export lacks (ExportTool is
            # always full-table); consumers resume from the last version
            # they exported, reading O(changed buckets).
            src = t.changes_between(changes_since)
        elif since is not None:
            # Zone-map incremental export: rows with check_column >
            # watermark, whole files below it skipped via manifest stats.
            from sqoop_spark.cdc.engine import _coerce_last_value

            col = args.check_column
            src = t.read_since(
                col, _coerce_last_value(t.schema()[col].dataType, since)
            )
        else:
            src = t.read()
    else:
        if changes_since is not None or since is not None:
            raise SystemExit(
                "export: --since/--changes-since require a lake-table source"
            )
        src = spark.read.parquet(args.source)
    if getattr(args, "connect", None):
        from sqoop_spark.errors import EngineError
        from sqoop_spark.sources.jdbc import (
            dbapi_factory_for_url,
            jdbc_export,
            jdbc_export_spark,
        )

        try:
            factory = dbapi_factory_for_url(args.connect)
        except EngineError:
            factory = None
        if factory is not None:
            # Embedded database (jdbc:sqlite:) — batched DB-API executor;
            # update/upsert modes work here (sqlite dialect), unlike
            # Spark's INSERT-only writer.
            jdbc_export(
                src,
                factory,
                args.target_table,
                mode="updateonly" if args.update_mode == "updateonly" and args.update_key
                else ("allowinsert" if args.update_key else "insert"),
                update_key=args.update_key,
                dialect="sqlite",
                records_per_statement=args.records_per_statement,
            )
            print(json.dumps({"rows": src.count(), "target": args.target_table}))
            return 0
        if args.update_key:
            raise EngineError(
                "JDBC update/upsert export needs a vendor DB-API connection "
                "factory — use sqoop_spark.sources.jdbc.jdbc_export from the "
                "API (Spark's writer is INSERT-only)"
            )
        jdbc_export_spark(
            src,
            args.connect,
            args.target_table,
            records_per_statement=args.records_per_statement,
            properties={"user": args.username or "", "password": args.password or ""},
        )
        print(json.dumps({"rows": src.count(), "target": args.target_table}))
        return 0
    if args.format == "avro":
        from sqoop_spark.sinks import write_avro

        write_avro(src, args.target_table, compression=args.compress)
        print(json.dumps({"rows": src.count(), "format": "avro"}))
        return 0
    if args.format == "debezium":
        # Outbound envelope JSONL: with --changes-since, the row-level diff
        # as c/u/d change events; otherwise the full state as snapshot-read
        # ('r') events — the two shapes a Kafka-Connect-style consumer
        # expects from a connector (source position = the table version).
        from pyspark.sql import functions as F

        from sqoop_spark.sources.debezium import to_debezium

        if "_change" in src.columns:
            diff, insert_op = src, "c"
        else:
            diff, insert_op = src.withColumn("_change", F.lit("insert")), "r"
        env = to_debezium(
            diff,
            source_name=os.path.basename(args.source.rstrip("/")),
            table=os.path.basename(args.source.rstrip("/")),
            pos_expr=F.lit(src_version),
            insert_op=insert_op,
        )
        env.write.mode("overwrite").text(args.target_table)
        print(json.dumps({"rows": env.count(), "format": "debezium"}))
        return 0
    if args.format == "sequencefile":
        from sqoop_spark.sequencefile import write_sequencefile

        write_sequencefile(
            src,
            args.target_table,
            field_delim=args.field_delim,
            enclosed_by=args.enclosed_by,
            escaped_by=args.escaped_by,
            null_string=args.null_string,
            compression=args.compress,
        )
        print(json.dumps({"rows": src.count(), "format": "sequencefile"}))
        return 0
    if args.format == "text":
        write_delimited(
            src,
            args.target_table,
            field_delim=args.field_delim,
            enclosed_by=args.enclosed_by,
            escaped_by=args.escaped_by,
            null_string=args.null_string,
            compression=args.compress,
        )
        print(json.dumps({"rows": src.count(), "format": "text"}))
        return 0
    if args.update_key and os.path.exists(args.target_table):
        old = spark.read.parquet(args.target_table)
        merged = merge_frames(
            old,
            src,
            key_cols=args.update_key.split(","),
            order_col=args.order_column,
            mode=MergeMode(args.update_mode),
        )
        # Staged-export atomicity (ExportJobBase.java:341-478 analog): the
        # merged result is fully materialized in a fresh staging dir while
        # the live target keeps serving, then swapped in via two directory
        # renames (metadata-only; the reference's ImportTool.java:448-505
        # rename dance). Never overwrite the live target in place — a crash
        # mid-rewrite must not lose it.
        import shutil
        import uuid as _uuid

        tag = _uuid.uuid4().hex[:8]
        staging = f"{args.target_table}.staging-{tag}"
        merged.write.mode("overwrite").parquet(staging)
        backup = f"{args.target_table}.old-{tag}"
        os.rename(args.target_table, backup)
        os.rename(staging, args.target_table)
        shutil.rmtree(backup, ignore_errors=True)
    else:
        src.write.mode("append" if os.path.exists(args.target_table) else "overwrite").parquet(
            args.target_table
        )
    print(json.dumps({"rows": spark.read.parquet(args.target_table).count()}))
    return 0


def cmd_codegen(args) -> int:
    """Schema + cast-plan emission — the ClassWriter analog.

    Sqoop generates a Java ORM class per table (orm/ClassWriter.java); on
    Spark the schema IS the record class, so codegen degenerates to
    emitting it (with cleaned identifiers and the JDBC cast plan)."""
    from sqoop_spark.schema import clean_identifier

    spark = _session(args)
    df = spark.read.parquet(args.table)
    out = {
        "table": args.table,
        "columns": [
            {
                "name": f.name,
                "identifier": clean_identifier(f.name),
                "spark_type": f.dataType.simpleString(),
            }
            for f in df.schema.fields
        ],
    }
    print(json.dumps(out, indent=1))
    return 0


#: Spark type → Hive type, mirroring hive/HiveTypes.java:56-90 (timestamps
#: and dates degrade to STRING, decimals to DOUBLE — the reference's lossy
#: but documented mapping).
_HIVE_TYPES = {
    "tinyint": "TINYINT",
    "smallint": "INT",
    "int": "INT",
    "bigint": "BIGINT",
    "string": "STRING",
    "boolean": "BOOLEAN",
    "float": "DOUBLE",
    "double": "DOUBLE",
    "date": "STRING",
    "timestamp": "STRING",
    "timestamp_ntz": "STRING",
}


def _hive_publish(spark: SparkSession, table, args) -> dict:
    """``--hive-import`` — hive/HiveImport.java:241-267 (generate DDL, then
    LOAD DATA into the metastore table), re-expressed lake-native: the
    CURRENT merged snapshot is published to a Hive-metastore-backed parquet
    table via ``saveAsTable``. The reference's LOAD DATA appends the newly
    imported HDFS files; a merge-applied CDC table's snapshot already IS
    the complete current state, so a re-publish must replace — hence an
    existing table errors unless ``--hive-overwrite`` (the same
    fail-if-exists contract as the reference's --create-hive-table)."""
    from sqoop_spark.errors import EngineError
    from sqoop_spark.schema import clean_identifier

    db = args.hive_database or "default"
    name = args.hive_table or clean_identifier(
        os.path.basename(args.target.rstrip("/"))
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    qualified = f"{db}.{name}"
    exists = spark.catalog.tableExists(qualified)
    pkey = (
        clean_identifier(args.hive_partition_key)
        if getattr(args, "hive_partition_key", None)
        else None
    )
    pval = getattr(args, "hive_partition_value", None)
    if (pkey is None) != (pval is None):
        raise EngineError(
            "--hive-partition-key and --hive-partition-value go together"
        )
    df = table.read()
    if pkey is not None:
        # --hive-partition-key/-value (tool/BaseSqoopTool.java hive
        # partition options; TableDefWriter emits PARTITIONED BY and
        # HiveImport LOAD DATAs into the static partition). The publish
        # is partition-SCOPED: a republish replaces only this partition
        # (the snapshot is that partition's complete state — the same
        # replace contract as the unpartitioned publish, so no
        # --hive-overwrite needed; other partitions are untouched).
        if pkey in df.columns:
            raise EngineError(
                f"partition key {pkey} collides with an imported column"
            )
        from pyspark.sql import functions as F

        if not exists:
            (
                df.withColumn(pkey, F.lit(str(pval)))
                .write.partitionBy(pkey)
                .format("parquet")
                .saveAsTable(qualified)
            )
        else:
            cols = ", ".join(
                f"`{c}`" for c in spark.table(qualified).columns if c != pkey
            )
            df.createOrReplaceTempView("_sqoop_spark_hive_publish")
            lit = str(pval).replace("'", "''")
            # a STATIC partition spec makes INSERT OVERWRITE replace only
            # that partition, independent of partitionOverwriteMode
            spark.sql(
                f"INSERT OVERWRITE TABLE {qualified} "
                f"PARTITION (`{pkey}`='{lit}') "
                f"SELECT {cols} FROM _sqoop_spark_hive_publish"
            )
        return {
            "hive_table": qualified,
            "hive_partition": f"{pkey}={pval}",
            "hive_overwritten": exists,
        }
    if exists and not args.hive_overwrite:
        raise EngineError(
            f"Hive table {qualified} already exists; pass --hive-overwrite "
            "to replace it with the current snapshot"
        )
    (
        df.write.mode("overwrite" if exists else "errorifexists")
        .format("parquet")
        .saveAsTable(qualified)
    )
    return {"hive_table": qualified, "hive_overwritten": exists}


def cmd_create_hive_table(args) -> int:
    """Emit Hive DDL for a table — hive/TableDefWriter.java:119-276 parity.

    The reference generates ``CREATE TABLE [IF NOT EXISTS]`` with its Hive
    type mapping and fails on unsupported types ("Hive does not support the
    SQL type..."); here the DDL is printed (or executed with --execute
    against the session catalog)."""
    from sqoop_spark.errors import EngineError
    from sqoop_spark.schema import clean_identifier

    spark = _session(args)
    df = spark.read.parquet(args.table)
    cols = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t.startswith("decimal"):
            hive = "DOUBLE"
        elif t not in _HIVE_TYPES:
            raise EngineError(f"Hive does not support the SQL type for column {f.name}")
        else:
            hive = _HIVE_TYPES[t]
        cols.append(f"  `{clean_identifier(f.name)}` {hive}")
    ine = "IF NOT EXISTS " if args.if_not_exists else ""
    ddl = (
        f"CREATE TABLE {ine}`{args.hive_table}` (\n"
        + ",\n".join(cols)
        + "\n) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\054' "
        "LINES TERMINATED BY '\\012' STORED AS TEXTFILE"
    )
    print(ddl)
    if args.execute:
        spark.sql(
            f"CREATE TABLE {ine}`{args.hive_table}` ("
            + ", ".join(
                f"`{clean_identifier(f.name)}` {f.dataType.simpleString()}"
                for f in df.schema.fields
            )
            + ") USING parquet"
        )
    return 0


def cmd_job(args) -> int:
    from sqoop_spark.cdc import JobStore

    store = JobStore(args.job_store)
    if args.list:
        print("\n".join(store.list()))
    elif args.show:
        print(json.dumps(store.show(args.show), indent=1, default=str))
    elif args.delete:
        store.delete(args.delete)
    elif args.create:
        store.create(args.create, json.loads(args.options or "{}"))
    else:
        raise SystemExit("job: one of --list/--show/--delete/--create required")
    return 0


def cmd_metastore(args) -> int:
    """Standalone metastore — tool/MetastoreTool.java analog.

    The reference runs a shared HSQLDB server for saved jobs
    (MetastoreTool.java:50-62 start/shutdown via HsqldbMetaStore). Our
    JobStore is a directory of JSON documents with atomic replace — any
    executor/host sharing the filesystem shares it, so there is no server
    process: this tool initializes the store directory and reports its
    state; --shutdown is accepted for CLI parity and is a no-op."""
    from sqoop_spark.cdc import JobStore

    store = JobStore(args.job_store)
    if args.shutdown:
        print(
            json.dumps(
                {"location": store.root, "shutdown": "noop (file-backed store)"}
            )
        )
        return 0
    print(json.dumps({"location": store.root, "jobs": store.list()}))
    return 0


def cmd_history(args) -> int:
    """Snapshot history of a lake table — one JSON line per commit.

    The audit surface of the snapshot-manifest protocol (Iceberg's
    ``history``/``snapshots`` metadata tables): version, operation,
    live-row total, file count, and the commit summary (batch fence,
    merge counters). Pure manifest metadata — no Spark session, no data
    files opened, O(versions) regardless of table size."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"history: no lake table at {args.path}")
    t = LakeTable(None, args.path)
    if args.set_tag:
        name, eq, v = args.set_tag.partition("=")
        version = t.set_tag(name, int(v) if eq else None)
        print(json.dumps({"tag": name, "version": version}))
        return 0
    if args.drop_tag:
        t.drop_tag(args.drop_tag)
        print(json.dumps({"dropped_tag": args.drop_tag}))
        return 0
    tags_by_version: dict[int, list[str]] = {}
    for name, v in t.tags().items():
        tags_by_version.setdefault(v, []).append(name)
    for s in t.snapshots():
        row = {
            "version": s.version,
            "operation": s.operation,
            "total_rows": s.total_rows,
            "num_files": s.num_files,
            "summary": s.summary,
        }
        if s.version in tags_by_version:
            row["tags"] = sorted(tags_by_version[s.version])
        print(json.dumps(row, default=str))
    return 0


def cmd_replicate(args) -> int:
    """Continuous outbound CDC — one resumable replication pass from a lake
    table's changelog into a lake or JDBC replica (the export direction the
    reference lacks: tool/ExportTool.java is always a full-table push).

    Lake target: each commit's diff lands as one fenced merge batch
    (batch id = source version → exactly-once). JDBC target (--connect):
    upsert/delete DB-API batches; idempotent diffs make the at-least-once
    watermark loop effectively-once. Re-run on a schedule (or in a shell
    loop) to tail continuously; the JobStore watermark resumes each pass.
    """
    from sqoop_spark.cdc import CdcEngine, JobStore
    from sqoop_spark.lake import LakeTable
    from sqoop_spark.streaming import follow_changes, replicate_to_table

    store = JobStore(args.job_store)
    if args.job not in store.list():
        store.create(args.job, {})
    spark = _session(args)
    if not LakeTable.exists(args.source):
        raise SystemExit(f"replicate: no lake table at {args.source}")
    src = LakeTable(spark, args.source)

    if args.connect:
        from sqoop_spark.sources.jdbc import (
            dbapi_factory_for_url,
            jdbc_apply_changes,
            jdbc_full_resync,
        )

        if not args.target_table:
            raise SystemExit("replicate: --target-table is required with --connect")
        factory = dbapi_factory_for_url(args.connect)
        key_cols = src.key_columns
        # single-writer stores get a single writer connection by default
        num_conns = args.num_connections
        if num_conns is None:
            num_conns = 1 if args.dialect == "sqlite" else 4

        def apply_fn(version, diff):
            jdbc_apply_changes(
                diff,
                factory,
                args.target_table,
                key_cols,
                dialect=args.dialect,
                num_connections=num_conns,
            )

        def bootstrap_fn(version, snapshot):
            # first pass / expired watermark: truncate-and-load the replica
            # (the JDBC analog of replicate_to_table's snapshot resync)
            jdbc_full_resync(
                snapshot,
                factory,
                args.target_table,
                dialect=args.dialect,
                num_connections=num_conns,
            )

        n = follow_changes(
            src, store, args.job, apply_fn, bootstrap_fn=bootstrap_fn
        )
    else:
        if not args.target:
            raise SystemExit("replicate: one of --target/--connect is required")
        if not LakeTable.exists(args.target):
            src_manifest = src.manifest()
            LakeTable.create(
                spark,
                args.target,
                src.schema(),
                src.key_columns,
                num_buckets=src_manifest["num_buckets"],
                properties={"order_column": src.order_column},
            )
        replica = CdcEngine(
            spark, LakeTable(spark, args.target), fingerprint=False
        )
        n = replicate_to_table(src, replica, store, args.job)
    print(json.dumps({"job": args.job, "applied": n}))
    return 0


def cmd_eval(args) -> int:
    """Ad-hoc SQL — tool/EvalSqlTool.java. With --connect a result-set
    statement runs as a JDBC subquery read; a write statement (INSERT/
    UPDATE/DELETE/DDL) executes through the DB-API path with the
    reference's update-count report (EvalSqlTool.java:68-83:
    'N row(s) updated.')."""
    if getattr(args, "connect", None):
        from sqoop_spark.errors import EngineError
        from sqoop_spark.sources.jdbc import (
            dbapi_factory_for_url,
            eval_statement,
            is_result_set_statement,
        )

        if not is_result_set_statement(args.e):
            count = eval_statement(dbapi_factory_for_url(args.connect), args.e)
            print(f"{0 if count is None else count} row(s) updated.")
            return 0
        # Result-set statement against an embedded database: fetch through
        # the in-process DB-API driver (no vendor JDBC jar, no Spark session
        # — the reference's eval is likewise a driver-side one-connection
        # tool, EvalSqlTool.java:55). Non-embedded URLs fall through to
        # Spark's JDBC reader below.
        try:
            factory = dbapi_factory_for_url(args.connect)
        except EngineError:
            factory = None
        if factory is not None:
            conn = factory()
            try:
                cur = conn.cursor()
                cur.execute(args.e)
                cols = [d[0] for d in cur.description or []]
                for rec in cur.fetchall():
                    print(json.dumps(dict(zip(cols, rec)), default=str))
            finally:
                conn.close()
            return 0
    spark = _session(args)
    if getattr(args, "connect", None):
        df = spark.read.jdbc(
            args.connect,
            f"({args.e}) AS SQOOP_EVAL",
            properties={"user": args.username or "", "password": args.password or ""},
        )
        for row in df.collect():
            print(json.dumps(row.asDict(), default=str))
        return 0
    for t in args.register or []:
        name, path = t.split("=", 1)
        spark.read.parquet(path).createOrReplaceTempView(name)
    for row in spark.sql(args.e).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _dbapi_list_tables(url: str) -> list[str] | None:
    """Catalog listing through the in-process DB-API driver for embedded
    databases (manager.listTables analog); None → not an embedded URL,
    caller falls through to Spark's JDBC reader."""
    from sqoop_spark.errors import EngineError
    from sqoop_spark.sources.jdbc import dbapi_factory_for_url

    try:
        factory = dbapi_factory_for_url(url)
    except EngineError:
        return None
    conn = factory()
    try:
        cur = conn.cursor()
        cur.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table' "
            "AND name NOT LIKE 'sqlite_%' ORDER BY name"
        )
        return [r[0] for r in cur.fetchall()]
    finally:
        conn.close()


def _tables_under(path: str) -> list[str]:
    out = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if entry.endswith(".parquet"):
            out.append(entry[: -len(".parquet")])
        elif os.path.isdir(os.path.join(full, "_manifests")):
            out.append(entry)
    return out


def cmd_list_tables(args) -> int:
    """ListTablesTool: tables under a lake path, or the JDBC catalog's
    (information_schema.tables) with --connect; embedded databases
    (jdbc:sqlite:) are listed through the in-process DB-API driver."""
    if not getattr(args, "connect", None) and not args.path:
        raise SystemExit("list-tables: one of --path or --connect is required")
    if getattr(args, "connect", None):
        tables = _dbapi_list_tables(args.connect)
        if tables is not None:
            print("\n".join(tables))
            return 0
        spark = _session(args)
        df = spark.read.jdbc(
            args.connect,
            "(SELECT table_name FROM information_schema.tables) AS tbls",
            properties={"user": args.username or "", "password": args.password or ""},
        )
        print("\n".join(r[0] for r in df.collect()))
        return 0
    print("\n".join(_tables_under(args.path)))
    return 0


def cmd_list_databases(args) -> int:
    """List databases — tool/ListDatabasesTool.java analog.

    On the lake, a "database" is a directory under --path that contains at
    least one table (parquet file or lake-table dir); with --connect the
    JDBC catalog would be listed instead (needs a vendor driver on the
    classpath, same as the reference's manager.listDatabases)."""
    if not getattr(args, "connect", None) and not args.path:
        raise SystemExit("list-databases: one of --path or --connect is required")
    if getattr(args, "connect", None):
        spark = _session(args)
        df = spark.read.jdbc(
            args.connect,
            "(SELECT schema_name FROM information_schema.schemata) AS dbs",
            properties={"user": args.username or "", "password": args.password or ""},
        )
        print("\n".join(r[0] for r in df.collect()))
        return 0
    out = []
    for entry in sorted(os.listdir(args.path)):
        full = os.path.join(args.path, entry)
        if os.path.isdir(full) and _tables_under(full):
            out.append(entry)
    print("\n".join(out))
    return 0


def cmd_import_all_tables(args) -> int:
    """Iterate listTables() minus --exclude-tables (ImportAllTablesTool).
    With --connect over an embedded database, tables come from the DB-API
    catalog and each imports through the partitioned DB-API reader."""
    if not getattr(args, "connect", None) and not args.path:
        raise SystemExit(
            "import-all-tables: one of --path or --connect is required"
        )
    spark = _session(args)
    exclude = set((args.exclude_tables or "").split(","))
    done = {}
    from sqoop_spark.lake import LakeTable

    if getattr(args, "connect", None):
        from sqoop_spark.sources.jdbc import (
            build_import_plan,
            dbapi_factory_for_url,
            jdbc_import,
        )

        dbapi_factory_for_url(args.connect)  # validate early: embedded only
        for name in _dbapi_list_tables(args.connect) or []:
            if name in exclude:
                continue
            df = jdbc_import(
                spark, build_import_plan(args.connect, table=name, num_mappers=1)
            )
            df.write.mode("overwrite").parquet(os.path.join(args.warehouse_dir, name))
            done[name] = df.count()
        print(json.dumps(done))
        return 0

    for name in _tables_under(args.path):
        if name in exclude:
            continue
        parquet_path = os.path.join(args.path, f"{name}.parquet")
        if os.path.exists(parquet_path):
            df = spark.read.parquet(parquet_path)
        else:  # a lake-table directory listed by _tables_under
            df = LakeTable.load(spark, os.path.join(args.path, name)).read()
        df.write.mode("overwrite").parquet(os.path.join(args.warehouse_dir, name))
        done[name] = df.count()
    print(json.dumps(done))
    return 0


def cmd_delete(args) -> int:
    """Row-level predicate DELETE against a lake table (the GDPR-erasure
    tool — ``DELETE FROM t WHERE cond``). Bucket-granular copy-on-write:
    only buckets holding matching rows are rewritten; deleted keys leave
    payload-free tombstones so out-of-order late events cannot resurrect
    erased data (LakeTable.delete_where)."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"delete: no lake table at {args.path}")
    horizon = args.tombstone_horizon
    if horizon is not None:
        try:
            horizon = int(horizon)
        except ValueError:
            try:
                horizon = float(horizon)
            except ValueError:
                pass  # string order columns (ISO timestamps) compare as-is
    t = LakeTable(_session(args), args.path)
    before = t.current_version()
    m = t.delete_where(
        args.where,
        tombstone_horizon=horizon,
        retry_recompute=args.retry_recompute,
    )
    if m["version"] == before:
        print(json.dumps({"noop": True, "rows_deleted": 0}))
    else:
        print(json.dumps({
            "version": m["version"],
            "rows_deleted": m["summary"]["rows_deleted"],
            "rewritten_buckets": m["summary"]["rewritten_buckets"],
        }))
    return 0


def cmd_update(args) -> int:
    """Row-level predicate UPDATE against a lake table
    (``UPDATE t SET col=expr WHERE cond``). Same bucket-granular
    copy-on-write shape as delete (LakeTable.update_where); each --set is
    ``column=sql_expression`` evaluated against the matching row."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"update: no lake table at {args.path}")
    assignments: dict[str, str] = {}
    for item in args.set:
        col, eq, expr = item.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise SystemExit(f"update: --set expects column=expression, got {item!r}")
        assignments[col.strip()] = expr.strip()
    t = LakeTable(_session(args), args.path)
    before = t.current_version()
    m = t.update_where(
        args.where, assignments, retry_recompute=args.retry_recompute
    )
    if m["version"] == before:
        print(json.dumps({"noop": True, "rows_updated": 0}))
    else:
        print(json.dumps({
            "version": m["version"],
            "rows_updated": m["summary"]["rows_updated"],
            "rewritten_buckets": m["summary"]["rewritten_buckets"],
            "set_columns": m["summary"]["set_columns"],
        }))
    return 0


def cmd_merge_into(args) -> int:
    """Generic clause-driven MERGE (Iceberg/Delta ``MERGE INTO``): merge a
    parquet source frame into a lake table on its key columns. Clauses
    mirror LakeTable.merge_into: --update col=expr (repeatable, t/s
    aliases; or --update-source for the wholesale upsert), --delete-when
    COND, --insert/--no-insert."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"merge-into: no lake table at {args.path}")
    upd = None
    if args.update_source:
        upd = "source"
    elif args.update:
        upd = {}
        for item in args.update:
            col, eq, expr = item.partition("=")
            if not eq or not col.strip() or not expr.strip():
                raise SystemExit(
                    f"merge-into: --update expects column=expression, got {item!r}"
                )
            upd[col.strip()] = expr.strip()
    t = LakeTable(_session(args), args.path)
    src = t.spark.read.parquet(args.source)
    before = t.current_version()
    m = t.merge_into(
        src,
        when_matched_update=upd,
        update_condition=args.update_when,
        when_matched_delete=args.delete_when if args.delete_when else False,
        when_not_matched_insert=args.insert,
        retry_recompute=args.retry_recompute,
    )
    if m["version"] == before:
        print(json.dumps({"noop": True}))
    else:
        print(json.dumps({
            "version": m["version"],
            "source_keys": m["summary"]["source_keys"],
            "rewritten_buckets": m["summary"]["rewritten_buckets"],
            "tombstones": m["summary"]["tombstones"],
        }))
    return 0


def cmd_describe(args) -> int:
    """Table-health summary from metadata alone (no Spark session):
    layout, rows/files/bytes split base vs delta vs tombstone,
    compaction backlog, zone-map coverage, fences/tags/staged commits."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"describe: no lake table at {args.path}")
    t = LakeTable(None, args.path)
    print(json.dumps(t.describe(version=args.version), indent=2))
    return 0


def cmd_lookup(args) -> int:
    """Point lookup of one key: bucket prune + key zone-map and bloom file
    skip, then a driver-side read of the surviving files with newest-wins
    resolved on the driver (no Spark job for the read). ``--key`` values
    are cast to the key columns' types. Prints the matching rows as JSON
    lines plus a matched/files-opened/files-total summary on stderr (the
    GDPR subject-access / upsert verification path — O(1 bucket, few
    files), never a table scan)."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"lookup: no lake table at {args.path}")
    key = {}
    for item in args.key:
        col, eq, val = item.partition("=")
        if not eq or not col.strip():
            raise SystemExit(f"lookup: --key expects column=value, got {item!r}")
        key[col.strip()] = val
    t = LakeTable(_session(args), args.path)
    opened = len(t.lookup_entries(key, version=args.version))
    rows = t.lookup(key, version=args.version).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(
        json.dumps(
            {
                "matched": len(rows),
                "files_opened": opened,
                "files_total": len(t.manifest(args.version)["files"]),
            }
        ),
        file=sys.stderr,
    )
    return 0


def cmd_scan(args) -> int:
    """Predicate-pruned read: ``scan --where`` evaluates the predicate's
    conjunctive terms against the manifest zone maps and opens only the
    files that can hold matching rows (bucket prune on full-key equality,
    file prune on any stats column). Prints matching rows as JSON lines
    plus a files-opened/files-total summary on stderr — the operational
    needle-query path at scale."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"scan: no lake table at {args.path}")
    t = LakeTable(_session(args), args.path)
    df = t.scan(args.where, version=args.version)
    if args.columns:
        df = df.select(*[c.strip() for c in args.columns.split(",")])
    if args.limit is not None:
        df = df.limit(args.limit)
    opened = len(df.inputFiles())
    rows = df.collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(
        json.dumps(
            {
                "matched": len(rows),
                "files_opened": opened,
                "files_total": len(t.manifest(args.version)["files"]),
            }
        ),
        file=sys.stderr,
    )
    return 0


def cmd_wap(args) -> int:
    """Write-audit-publish flow over a lake table (Iceberg's wap.id /
    cherrypick): ``stage`` writes a parquet batch as an invisible staged
    commit, ``audit`` validates the would-be state against expectations,
    ``publish`` makes it visible (batch fence fires here), ``abort``
    discards it, ``list`` shows pending stages."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"wap: no lake table at {args.path}")
    needs_spark = args.action in ("stage", "audit")
    t = LakeTable(_session(args) if needs_spark else None, args.path)
    if args.action == "list":
        print(json.dumps([
            {k: st[k] for k in ("wap_id", "operation", "batch_id",
                                "base_version")}
            for st in t.staged()
        ]))
        return 0
    if args.action == "stage":
        if not args.source or not args.wap_id:
            raise SystemExit("wap stage: --source and --wap-id are required")
        df = t.spark.read.parquet(args.source)
        st = t.stage(
            df, args.wap_id, mode=args.mode, batch_id=args.batch_id,
            op_col=args.op_col,
        )
        print(json.dumps({
            "wap_id": st["wap_id"], "operation": st["operation"],
            "files": len(st["entries"]),
            "rows": sum(e["rows"] for e in st["entries"]),
            "base_version": st["base_version"],
        }))
        return 0
    if not args.wap_id:
        raise SystemExit(f"wap {args.action}: --wap-id is required")
    if args.action == "audit":
        nn = [c.strip() for c in (args.not_null or "").split(",") if c.strip()]
        rep = t.audit_staged(
            args.wap_id, min_rows=args.min_rows, max_rows=args.max_rows,
            not_null=nn, unique_key=args.unique_key,
        )
        print(json.dumps(rep))
        return 0 if rep["ok"] else 1
    if args.action == "publish":
        m = t.publish_staged(args.wap_id, retry_conflicts=args.retry_conflicts)
        print(json.dumps({"version": m["version"],
                          "operation": m["operation"],
                          "batch_id": m["summary"].get("batch_id")}))
        return 0
    if args.action == "abort":
        print(json.dumps(t.abort_staged(args.wap_id)))
        return 0
    raise SystemExit(f"wap: unknown action {args.action!r}")


def cmd_maintain(args) -> int:
    """Lake-table maintenance: compaction, small-file bin-packing,
    snapshot expiry, orphan cleanup — the operational companion of the
    snapshot protocol (Iceberg's maintenance procedures; the reference
    has no analog because MR output dirs are write-once). Each flag runs
    one action; results print as one JSON object."""
    from sqoop_spark.lake import LakeTable

    if not LakeTable.exists(args.path):
        raise SystemExit(f"maintain: no lake table at {args.path}")
    out: dict = {}
    needs_spark = (
        args.compact
        or args.rewrite_small_files is not None
        or args.rebucket is not None
        or args.cluster_by is not None
        or args.auto
    )
    t = LakeTable(_session(args) if needs_spark else None, args.path)
    if args.auto:
        out["auto"] = t.auto_maintain(
            max_delta_files=args.auto_delta_files,
            target_rows=args.auto_target_rows,
            keep_snapshots=args.expire_snapshots,
        )
        print(json.dumps(out))
        return 0
    if args.compact:
        before = t.current_version()
        # the maintain tool IS the standing external compactor: retry
        # around live ingest commits instead of dying on the first race
        t.compact(retry_recompute=4)
        out["compact"] = {"committed": t.current_version() != before}
    if args.rebucket is not None:
        before = t.current_version()
        # like --compact: retry around live ingest commits rather than
        # dying after paying the full rewrite
        m = t.rebucket(args.rebucket, retry_recompute=2)
        out["rebucket"] = (
            m["summary"] if m["version"] != before else {"noop": True}
        )
    if args.rewrite_small_files is not None:
        # standing-maintenance loop: retry around live ingest like --compact
        m = t.rewrite_small_files(
            target_rows=args.rewrite_small_files, retry_recompute=2
        )
        out["rewrite"] = m.get("summary", {}) if m["operation"] == "rewrite" else {
            "noop": True
        }
    if args.cluster_by is not None:
        before = t.current_version()
        cluster_cols = [
            c.strip() for c in (args.cluster_by or "").split(",") if c.strip()
        ]
        m = t.rewrite_clustered(
            column=(
                cluster_cols
                if len(cluster_cols) > 1
                else (cluster_cols[0] if cluster_cols else None)
            ),
            target_rows=args.cluster_file_rows,
            retry_recompute=2,
        )
        out["cluster"] = (
            m["summary"] if m["version"] != before else {"noop": True}
        )
    if args.rollback is not None:
        before = t.current_version()
        m = t.rollback_to(args.rollback)
        out["rollback"] = (
            {"version": m["version"], "restored": args.rollback}
            if m["version"] != before
            else {"noop": True}
        )
    if args.set_property:
        updates = {}
        for item in args.set_property:
            k, eq, v = item.partition("=")
            if not eq or not k.strip():
                raise SystemExit(
                    f"maintain: --set-property expects KEY=VALUE, got {item!r}"
                )
            updates[k.strip()] = v or None  # empty value deletes
        m = t.set_properties(updates)
        out["properties"] = m.get("properties", {})
    if args.expire_snapshots is not None:
        out["expire"] = t.expire_snapshots(keep_last=args.expire_snapshots)
    if args.remove_orphans is not None:
        out["orphans"] = t.remove_orphan_files(
            older_than_seconds=args.remove_orphans
        )
    if args.export_iceberg is not None:
        from sqoop_spark.lake.iceberg_export import export_iceberg

        md = export_iceberg(t, args.export_iceberg or None)
        out["iceberg"] = {"metadata": md}
    if args.export_symlink is not None:
        from sqoop_spark.lake.symlink_export import export_symlink_manifest

        mf = export_symlink_manifest(t, args.export_symlink or None)
        out["symlink_manifest"] = {"manifest": mf}
    if not out:
        raise SystemExit(
            "maintain: one of --compact/--rewrite-small-files/"
            "--cluster-by/--expire-snapshots/--remove-orphans/--rebucket/"
            "--rollback/--set-property/--export-iceberg/--export-symlink "
            "required"
        )
    print(json.dumps(out, default=str))
    return 0


def cmd_bench(args) -> int:
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", args.sf_dir)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    bench.main()
    return 0


def cmd_credential(args) -> int:
    """Keystore management for ``--password-alias`` — the reference
    defers to ``hadoop credential create <alias> -provider <path>``
    (CredentialProviderHelper.java); this is the built-in equivalent over
    sqoop_spark/credentials.py."""
    from sqoop_spark.credentials import (
        CredentialError,
        create_credential,
        delete_credential,
        list_aliases,
        resolve_provider_path,
    )

    provider = resolve_provider_path(args.provider)
    if not provider:
        raise SystemExit(
            "credential: provider path required (--provider or "
            "$SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH)"
        )
    try:
        if args.action == "list":
            for a in list_aliases(provider):
                print(a)
            return 0
        if not args.alias:
            raise SystemExit(f"credential {args.action}: alias required")
        if args.action == "delete":
            delete_credential(provider, args.alias)
            print(json.dumps({"deleted": args.alias}))
            return 0
        if args.value is not None:
            print(
                "WARNING: Setting the secret on the command-line is "
                "insecure. Omit --value to read it from stdin.",
                file=sys.stderr,
            )
            secret = args.value
        else:
            secret = sys.stdin.readline().rstrip("\n")
        create_credential(
            provider, args.alias, secret, overwrite=args.overwrite
        )
        print(json.dumps({"created": args.alias, "provider": provider}))
        return 0
    except CredentialError as e:
        raise SystemExit(f"credential: {e}") from e


def _add_credential_args(p) -> None:
    """--password / --password-file / --password-alias (mutually
    exclusive; see resolve_password) on every --connect-capable tool."""
    p.add_argument("--password")
    p.add_argument("--password-file",
                   help="read the connection password from this file "
                        "(chmod 600; one trailing newline stripped)")
    p.add_argument("--password-alias",
                   help="fetch the password from the credential-provider "
                        "keystore under this alias (create with the "
                        "'credential' tool — the Hadoop CredentialProvider "
                        "/ JCEKS analog)")
    p.add_argument("--credential-provider",
                   help="credential keystore path (default "
                        "$SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH)")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sqoop-spark", description=__doc__)
    sub = p.add_subparsers(dest="tool", required=True)

    imp = sub.add_parser("import", help="incremental ingest into a lake table")
    imp.add_argument("--table", help="source table path (parquet or lake)")
    imp.add_argument("--query", help="free-form SQL with $CONDITIONS")
    imp.add_argument("--register", action="append", metavar="NAME=PATH",
                     help="temp view(s) for --query")
    imp.add_argument("--target", required=True, help="target lake table path")
    imp.add_argument("--incremental", choices=["append", "lastmodified"],
                     default="append")
    imp.add_argument("--check-column", default="event_seq")
    imp.add_argument("--dedup-id-cols", metavar="COLS",
                     help="comma list of event-identity columns: keep the "
                          "first arrival per id before a blind append "
                          "(at-least-once sources; no-op with --merge-key, "
                          "whose newest-wins merge is already idempotent)")
    imp.add_argument("--last-value")
    imp.add_argument("--merge-key", help="comma list; enables merge-apply")
    imp.add_argument("--update-mode", default="upsert",
                     choices=["upsert", "updateonly", "allowinsert"])
    imp.add_argument("--columns")
    imp.add_argument("--where")
    imp.add_argument("--map-column", help="col=JDBCTYPE,... cast map")
    imp.add_argument("--split-by")
    imp.add_argument("--boundary-query")
    imp.add_argument("--num-mappers", "-m", type=int)
    imp.add_argument("--num-buckets", type=int, default=32)
    imp.add_argument("--salt-partitions", type=int, default=0)
    imp.add_argument("--shuffle-partitions", type=int, default=32)
    imp.add_argument("--schema-from-source", action="store_true")
    imp.add_argument("--job", help="saved-job name (watermark round-trip)")
    imp.add_argument("--job-store", default=".sqoop_spark_jobs")
    imp.add_argument("--connect", help="jdbc:... URL — read over JDBC with "
                     "splitter-driven predicates instead of parquet/lake")
    imp.add_argument("--username")
    _add_credential_args(imp)
    imp.add_argument("--jdbc-driver", help="JDBC driver class name")
    imp.add_argument("--as-sequencefile", action="store_true",
                     help="file-layout import: SequenceFile<LongWritable, "
                     "Text> part files at the target (no lake table)")
    imp.add_argument("--validate", action="store_true",
                     help="RowCountValidator: source slice count must match "
                     "rows transferred (aborts on mismatch)")
    imp.add_argument("--validation-threshold", type=int, default=0,
                     help="absolute count margin accepted by --validate")
    imp.add_argument("--hive-import", action="store_true",
                     help="publish the merged snapshot to a Hive-metastore "
                     "table after the import (embedded Derby metastore)")
    imp.add_argument("--hive-table",
                     help="metastore table name (default: cleaned target "
                     "basename)")
    imp.add_argument("--hive-database", default="default")
    imp.add_argument("--hive-overwrite", action="store_true",
                     help="replace an existing metastore table with the "
                     "current snapshot (otherwise an existing table errors)")
    imp.add_argument("--hive-metastore", default=".sqoop_spark_hive",
                     help="embedded metastore root directory")
    imp.add_argument("--hive-partition-key",
                     help="static Hive partition column for the published "
                     "table (with --hive-partition-value)")
    imp.add_argument("--hive-partition-value",
                     help="value of --hive-partition-key this snapshot "
                     "lands in; a republish replaces only this partition")
    imp.set_defaults(fn=cmd_import)

    mrg = sub.add_parser("merge", help="two-dataset newest-wins merge")
    mrg.add_argument("--new-data", required=True)
    mrg.add_argument("--onto", required=True)
    mrg.add_argument("--target-dir", required=True)
    mrg.add_argument("--merge-key", required=True)
    mrg.add_argument("--order-column", default="event_seq")
    mrg.add_argument("--update-mode", default="upsert",
                     choices=["upsert", "updateonly", "allowinsert"])
    mrg.set_defaults(fn=cmd_merge)

    exp = sub.add_parser("export", help="export a lake table outward")
    exp.add_argument("--source", required=True, help="lake table or parquet")
    exp.add_argument("--target-table", required=True)
    exp.add_argument("--update-key", help="comma list; enables merge export")
    exp.add_argument("--update-mode", default="allowinsert",
                     choices=["upsert", "updateonly", "allowinsert"])
    exp.add_argument("--order-column", default="event_seq")
    exp.add_argument("--format", default="parquet",
                     choices=["parquet", "text", "avro", "sequencefile",
                              "debezium"])
    exp.add_argument("--field-delim", default=",")
    exp.add_argument("--enclosed-by")
    exp.add_argument("--escaped-by")
    exp.add_argument("--null-string", default="null")
    exp.add_argument("--compress", help="codec identifier (CodecMap)")
    exp.add_argument("--num-mappers", "-m", type=int)
    exp.add_argument("--connect", help="jdbc:... URL — INSERT export through "
                     "Spark's JDBC writer")
    exp.add_argument("--username")
    _add_credential_args(exp)
    exp.add_argument("--records-per-statement", type=int, default=100,
                     help="sqoop.export.records.per.statement analog")
    exp.add_argument("--since", metavar="WATERMARK",
                     help="incremental export: rows with --check-column > "
                          "WATERMARK (zone-map file skipping)")
    exp.add_argument("--check-column", default="event_seq")
    exp.add_argument("--changes-since", type=int, metavar="VERSION",
                     help="outbound CDC: ship the snapshot diff since "
                          "VERSION (insert/update/delete + _change)")
    exp.set_defaults(fn=cmd_export)

    cg = sub.add_parser("codegen", help="emit schema/cast plan for a table")
    cg.add_argument("--table", required=True)
    cg.set_defaults(fn=cmd_codegen)

    cht = sub.add_parser("create-hive-table", help="emit/execute Hive DDL")
    cht.add_argument("--table", required=True, help="source parquet path")
    cht.add_argument("--hive-table", required=True)
    cht.add_argument("--if-not-exists", action="store_true")
    cht.add_argument("--execute", action="store_true")
    cht.set_defaults(fn=cmd_create_hive_table)

    job = sub.add_parser("job", help="saved jobs")
    job.add_argument("--job-store", default=".sqoop_spark_jobs")
    job.add_argument("--list", action="store_true")
    job.add_argument("--show")
    job.add_argument("--delete")
    job.add_argument("--create")
    job.add_argument("--options", help="JSON options for --create")
    job.set_defaults(fn=cmd_job)

    ms = sub.add_parser("metastore", help="init/inspect the shared job store")
    ms.add_argument("--job-store", default=".sqoop_spark_jobs")
    ms.add_argument("--shutdown", action="store_true")
    ms.set_defaults(fn=cmd_metastore)

    hist = sub.add_parser("history", help="snapshot history of a lake table")
    hist.add_argument("--path", required=True)
    hist.add_argument("--set-tag", metavar="NAME[=VERSION]",
                      help="tag a snapshot (current version when omitted); "
                           "tagged snapshots survive --expire-snapshots")
    hist.add_argument("--drop-tag", metavar="NAME")
    hist.set_defaults(fn=cmd_history)

    dl = sub.add_parser("delete", help="row-level predicate DELETE "
                                       "(GDPR erasure) on a lake table")
    dl.add_argument("--path", required=True)
    dl.add_argument("--where", required=True, metavar="SQL_PREDICATE",
                    help="rows where this is TRUE are deleted (NULL keeps)")
    dl.add_argument("--tombstone-horizon", default=None,
                    help="age out delete markers below this order value")
    dl.add_argument("--retry-recompute", type=int, default=2,
                    help="recompute attempts around concurrent commits")
    dl.set_defaults(fn=cmd_delete)

    up = sub.add_parser("update", help="row-level predicate UPDATE on a "
                                       "lake table")
    up.add_argument("--path", required=True)
    up.add_argument("--where", required=True, metavar="SQL_PREDICATE")
    up.add_argument("--set", required=True, action="append",
                    metavar="COLUMN=SQL_EXPRESSION",
                    help="repeatable; expression sees the matching row")
    up.add_argument("--retry-recompute", type=int, default=2)
    up.set_defaults(fn=cmd_update)

    mi = sub.add_parser("merge-into", help="generic clause-driven MERGE of "
                                           "a parquet source into a lake "
                                           "table (Iceberg/Delta MERGE INTO)")
    mi.add_argument("--path", required=True, help="target lake table")
    mi.add_argument("--source", required=True, metavar="PARQUET_PATH")
    mi.add_argument("--update", action="append", default=[],
                    metavar="COLUMN=SQL_EXPRESSION",
                    help="matched-update assignment over t/s aliases "
                         "(repeatable)")
    mi.add_argument("--update-source", action="store_true",
                    help="matched rows take the source row wholesale")
    mi.add_argument("--update-when", default=None, metavar="SQL_PREDICATE",
                    help="extra gate on the update clause (t/s aliases)")
    mi.add_argument("--delete-when", default=None, metavar="SQL_PREDICATE",
                    help="matched rows where this holds are deleted "
                         "(guarding tombstones retained)")
    mi.add_argument("--insert", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="insert unmatched source rows (--no-insert drops)")
    mi.add_argument("--retry-recompute", type=int, default=2)
    mi.set_defaults(fn=cmd_merge_into)

    dsc = sub.add_parser("describe", help="table-health summary from "
                                          "metadata alone (rows, files, "
                                          "backlog, zone-map coverage)")
    dsc.add_argument("--path", required=True, help="lake table")
    dsc.add_argument("--version", type=int, default=None,
                     help="describe this snapshot instead of current")
    dsc.set_defaults(fn=cmd_describe)

    lk = sub.add_parser("lookup", help="point lookup of one key: bucket "
                                       "prune + key zone-map file skip, "
                                       "rows printed as JSON lines")
    lk.add_argument("--path", required=True, help="lake table")
    lk.add_argument("--key", action="append", required=True,
                    metavar="COLUMN=VALUE",
                    help="one per key column (values cast to the key type)")
    lk.add_argument("--version", type=int, default=None,
                    help="time-travel: look up in this snapshot")
    lk.set_defaults(fn=cmd_lookup)

    scn = sub.add_parser("scan", help="predicate-pruned read: manifest "
                                      "zone-map file skip + full-key "
                                      "bucket prune, rows as JSON lines")
    scn.add_argument("--path", required=True, help="lake table")
    scn.add_argument("--where", required=True,
                     help="SQL predicate; conjunctive comparisons prune "
                          "files via the manifest zone maps (fail-open)")
    scn.add_argument("--columns", default=None,
                     help="comma-separated projection")
    scn.add_argument("--limit", type=int, default=None)
    scn.add_argument("--version", type=int, default=None,
                     help="time-travel: scan this snapshot")
    scn.set_defaults(fn=cmd_scan)

    wp = sub.add_parser("wap", help="write-audit-publish: stage a batch as "
                                    "an invisible commit, audit the "
                                    "would-be state, then publish or abort")
    wp.add_argument("action",
                    choices=["stage", "list", "audit", "publish", "abort"])
    wp.add_argument("--path", required=True, help="lake table")
    wp.add_argument("--wap-id", help="staged-commit id (Iceberg wap.id)")
    wp.add_argument("--source", metavar="PARQUET_PATH",
                    help="batch to stage (stage action)")
    wp.add_argument("--mode", choices=["append", "delta"], default="append",
                    help="append rows, or delta upsert/delete rows "
                         "(op column)")
    wp.add_argument("--op-col", default="op",
                    help="delta mode: column holding upsert/delete")
    wp.add_argument("--batch-id", type=int, default=None,
                    help="exactly-once fence id (enforced at publish)")
    wp.add_argument("--min-rows", type=int, default=None,
                    help="audit: fail when would-be state has fewer rows")
    wp.add_argument("--max-rows", type=int, default=None,
                    help="audit: fail when would-be state has more rows")
    wp.add_argument("--not-null", metavar="COL,COL",
                    help="audit: fail on NULLs in these columns")
    wp.add_argument("--unique-key", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="audit: fail on duplicate key tuples")
    wp.add_argument("--retry-conflicts", type=int, default=2,
                    help="publish: rebase onto concurrent commits this "
                         "many times")
    wp.set_defaults(fn=cmd_wap)

    rep = sub.add_parser(
        "replicate",
        help="one resumable outbound-CDC pass: lake changelog → lake or "
        "JDBC replica (re-run to tail continuously)",
    )
    rep.add_argument("--source", required=True, help="source lake table path")
    rep.add_argument("--target", help="replica lake table path (created on "
                     "first run from the source's schema/keys/buckets)")
    rep.add_argument("--connect", help="jdbc:... replica URL instead of a lake path")
    rep.add_argument("--target-table", help="replica table name (with --connect)")
    rep.add_argument("--dialect", default="sqlite",
                     help="vendor upsert dialect for --connect (mysql/sqlite)")
    rep.add_argument("--num-connections", type=int, default=None,
                     help="parallel connections against the JDBC replica "
                          "(default 4; 1 for single-writer dialects like "
                          "sqlite)")
    rep.add_argument("--job", required=True,
                     help="consumer name — its watermark resumes each pass")
    rep.add_argument("--job-store", default=".sqoop_spark_jobs")
    rep.set_defaults(fn=cmd_replicate)

    mt = sub.add_parser("maintain", help="lake-table maintenance actions")
    mt.add_argument("--path", required=True)
    mt.add_argument("--compact", action="store_true",
                    help="collapse MoR deltas into base files")
    mt.add_argument("--rewrite-small-files", type=int, metavar="TARGET_ROWS",
                    help="bin-pack base files smaller than TARGET_ROWS avg")
    mt.add_argument("--expire-snapshots", type=int, metavar="KEEP_LAST")
    mt.add_argument("--remove-orphans", type=float, metavar="OLDER_THAN_SECONDS")
    mt.add_argument("--rebucket", type=int, metavar="NUM_BUCKETS",
                    help="rewrite the table into NUM_BUCKETS hash buckets "
                         "(one atomic snapshot; resolves MoR deltas and "
                         "carries tombstones into their new buckets)")
    mt.add_argument("--cluster-by", nargs="?", const="", default=None,
                    metavar="COLUMN[,COLUMN...]",
                    help="sort-order rewrite: cluster each bucket's base "
                         "files by COLUMN (default: the order column) so "
                         "zone maps prune incremental reads on merge "
                         "tables; 2-3 comma-separated columns switch to a "
                         "Z-ORDER rewrite (Morton-interleaved sort — zone "
                         "maps stay narrow on every listed column at "
                         "once); delta-holding buckets are skipped "
                         "(compact first)")
    mt.add_argument("--cluster-file-rows", type=int, default=1_000_000,
                    metavar="TARGET_ROWS",
                    help="rows per clustered file (zone-map granularity)")
    mt.add_argument("--auto", action="store_true",
                    help="policy-driven pass: compact buckets over the "
                         "delta backlog threshold, bin-pack fragmented "
                         "buckets, then --expire-snapshots if given; "
                         "prints every decision with its reason")
    mt.add_argument("--auto-delta-files", type=int, default=4,
                    metavar="N", help="--auto: compact buckets holding "
                                      "more than N unmerged delta files")
    mt.add_argument("--auto-target-rows", type=int, default=1_000_000,
                    metavar="ROWS",
                    help="--auto: bin-pack buckets averaging under "
                         "ROWS/2 rows per base file")
    mt.add_argument("--set-property", action="append", default=None,
                    metavar="KEY=VALUE",
                    help="metadata-only commit updating a table property "
                         "(repeatable; empty value deletes) — e.g. "
                         "bloom_columns=content_sha makes later writes "
                         "build per-file bloom sidecars for equality "
                         "pruning, stats_columns=a,b widens zone maps")
    mt.add_argument("--export-iceberg", nargs="?", const="", default=None,
                    metavar="DEST",
                    help="write Iceberg v2 metadata (metadata.json + Avro "
                         "manifests) for the current snapshot under DEST "
                         "(default <table>/iceberg) pointing at the "
                         "existing parquet — makes the snapshot readable "
                         "by any Iceberg engine; metadata-only, refuses "
                         "unmerged MoR deltas (compact first)")
    mt.add_argument("--export-symlink", nargs="?", const="", default=None,
                    metavar="DEST",
                    help="write a Presto/Athena/Hive symlink-format "
                         "manifest (_symlink_format_manifest/manifest, "
                         "one data-file URI per line) for the current "
                         "snapshot under DEST (default the table dir) — "
                         "the Delta GENERATE symlink_format_manifest "
                         "analog; refuses unmerged MoR deltas")
    mt.add_argument("--rollback", type=int, metavar="VERSION",
                    help="roll back to snapshot VERSION as a new "
                         "metadata-only commit (undone batch ids are "
                         "unfenced for corrected re-application)")
    mt.set_defaults(fn=cmd_maintain)

    ev = sub.add_parser("eval", help="ad-hoc SQL")
    ev.add_argument("-e", required=True, help="SQL text")
    ev.add_argument("--register", action="append", metavar="NAME=PATH")
    ev.add_argument("--connect", help="jdbc:... URL — run against the database")
    ev.add_argument("--username")
    _add_credential_args(ev)
    ev.set_defaults(fn=cmd_eval)

    lt = sub.add_parser("list-tables")
    lt.add_argument("--path")
    lt.add_argument("--connect", help="jdbc:... URL (information_schema)")
    lt.add_argument("--username")
    _add_credential_args(lt)
    lt.set_defaults(fn=cmd_list_tables)

    ld = sub.add_parser("list-databases")
    ld.add_argument("--path", help="lake root: dirs containing tables")
    ld.add_argument("--connect", help="jdbc:... URL (information_schema)")
    ld.add_argument("--username")
    _add_credential_args(ld)
    ld.set_defaults(fn=cmd_list_databases)

    iat = sub.add_parser("import-all-tables")
    iat.add_argument("--path", help="lake root (or use --connect)")
    iat.add_argument("--warehouse-dir", required=True)
    iat.add_argument("--exclude-tables")
    iat.add_argument("--connect", help="jdbc:... URL — import every table "
                     "from the DB-API catalog (embedded databases)")
    iat.add_argument("--username")
    _add_credential_args(iat)
    iat.set_defaults(fn=cmd_import_all_tables)

    bn = sub.add_parser("bench")
    bn.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    bn.set_defaults(fn=cmd_bench)

    cr = sub.add_parser(
        "credential",
        help="manage the credential-provider keystore used by "
             "--password-alias (the 'hadoop credential' analog)",
    )
    cr.add_argument("action", choices=["create", "list", "delete"])
    cr.add_argument("alias", nargs="?")
    cr.add_argument("--provider",
                    help="keystore path (default "
                         "$SQOOP_SPARK_CREDENTIAL_PROVIDER_PATH)")
    cr.add_argument("--value",
                    help="secret value (INSECURE on the command line — "
                         "omit to read one line from stdin)")
    cr.add_argument("--overwrite", action="store_true")
    cr.set_defaults(fn=cmd_credential)
    return p


def expand_options_files(argv: list[str]) -> list[str]:
    """``--options-file f`` inlining — Sqoop.java:210-236 /
    OptionsFileUtil.expandArguments: each non-empty, non-comment line of
    the file becomes one argument, in place."""
    out: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--options-file":
            if i + 1 >= len(argv):
                raise SystemExit("--options-file requires a path")
            with open(argv[i + 1]) as f:
                for line in f:
                    line = line.strip()
                    if line and not line.startswith("#"):
                        out.append(line)
            i += 2
        else:
            out.append(argv[i])
            i += 1
    return out


def main(argv: Sequence[str] | None = None) -> int:
    argv = expand_options_files(
        list(argv) if argv is not None else sys.argv[1:]
    )
    args = build_parser().parse_args(argv)
    if hasattr(args, "password") or hasattr(args, "password_file"):
        args.password = resolve_password(args)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
