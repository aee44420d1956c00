"""Newest-wins merge-apply — the heart of the engine.

Reproduces Sqoop's merge tool (reference: mapreduce/MergeJob.java,
MergeMapperBase.java:47-84, MergeReducerBase.java:31-51) and its
export update modes (UpdateOutputFormat.java:85-211 for ``--update-key``
update-only; MySQLUpsertOutputFormat.java:95-124 / OracleUpsertOutputFormat
for ``--update-mode allowinsert``) as ONE DataFrame plan:

1. **Reduce**: collapse the batch to one row per key with a window
   ``row_number() OVER (PARTITION BY key ORDER BY event_seq DESC)``. The
   reference reducer keeps the *last seen* new record — iteration-order
   nondeterminism we tighten to a pinned total order on ``event_seq``
   (SURVEY.md §2.4, §7 "hard parts").
2. **Apply**: one full-outer join of the reduced batch against ONLY the
   bucket-pruned slice of the target (LakeTable.read_buckets), classifying
   every output row as carry / update / insert / delete, then a bucket
   copy-on-write commit.

Scale design:
- The join is keyed on the table's bucket hash, so at 100 TB a batch
  touching K of B buckets reads K/B of the table — file skipping, not a full
  scan. Within touched buckets Spark picks SMJ or (if the reduced batch is
  small) broadcast — we hint broadcast when the reduced batch is under
  ``broadcast_threshold`` rows.
- Hot-key skew in the *reduce* shuffle is handled by AQE skew handling plus
  a two-phase pre-aggregation: a salted partial reduce first shrinks hot
  keys' duplicate runs before the final per-key window (see
  ``newest_wins_reduce(salt_partitions=...)``) — the Spark analog of the
  skew problem Sqoop's TextSplitter warns about (TextSplitter.java:69-72).
- Counters come from ``df.observe`` during the single write pass — no
  second job. Deletes are derived from manifest row counts:
  ``deleted = old_rows_in_touched_buckets - carried - updated``.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from sqoop_spark.errors import EngineError
from sqoop_spark.lake import LakeTable
from sqoop_spark.lake.pruning import canon_bound, entry_excluded

_log = logging.getLogger(__name__)


class MergeMode(Enum):
    #: Full CDC apply: insert + update + delete (newest-wins merge tool
    #: semantics extended with op-codes).
    UPSERT = "upsert"
    #: Sqoop export --update-key (UpdateOnly): rows whose key has no match
    #: in the target are silently ignored (UpdateOutputFormat.java:85-211;
    #: TestExportUpdate "subset/no-op" cases). Deletes ignored.
    UPDATE_ONLY = "updateonly"
    #: Sqoop export --update-mode allowinsert: update matched, insert
    #: unmatched (MySQLManager.java:131-153). Deletes ignored.
    ALLOW_INSERT = "allowinsert"


@dataclass
class MergeStats:
    batch_id: int | None
    rows_in: int  # rows in the (already reduced) batch
    carried: int  # target rows untouched within rewritten buckets
    updated: int
    inserted: int
    deleted: int
    buckets_touched: int
    buckets_total: int
    #: True when the events_in Observation missed (AQE-eliminated metrics
    #: node / unreachable listener bus) and rows_in defaulted to 0 — lets
    #: --validate distinguish "no rows transferred" from "counters
    #: unavailable" instead of raising a spurious ValidationFailure.
    counters_missing: bool = False

    @property
    def rows_applied(self) -> int:
        return self.updated + self.inserted + self.deleted


def _safe_observation(obs: Observation, timeout_s: float = 10.0) -> dict:
    """Read an Observation without ever blocking or raising.

    ``Observation.get`` (the supported API) waits on a row that never
    arrives when AQE's empty-relation propagation eliminated the
    CollectMetrics node. So the row's EXISTENCE is polled first through
    the JVM's non-blocking ``getRowOrEmpty`` (private but tiny surface),
    bounded by ``timeout_s``; once it exists, the public ``get`` returns
    immediately. The merge reads its Observations before its commit, so
    a failure must not raise: it is WARN-logged (not silent) and reads as
    ``{}``. Every counter then reports 0 and rows_in-based validation
    goes vacuous — callers fall back to manifest-derived counts.
    """
    deadline = time.time() + timeout_s
    try:
        jo = obs._jo
        if jo is None:
            return {}
        while True:
            jopt = jo.getRowOrEmpty()  # scala Option[Row]
            if jopt is not None and jopt.isDefined():
                jrow = jopt.get()
                if jrow.length() == 0 or jrow.schema() is None:
                    # AQE empty-relation propagation eliminated the metrics
                    # subtree and left an empty schemaless row (e.g. the
                    # old side of batch 0 on a fresh table) — legitimately
                    # "no metrics", and the public get would assert on it.
                    _log.debug("Observation row empty (AQE-eliminated subtree)")
                    return {}
                return dict(obs.get)
            if time.time() >= deadline:
                break
            time.sleep(0.05)
    except Exception as e:
        _log.warning(
            "Observation read failed (%s: %s); counters default to 0",
            type(e).__name__,
            e,
        )
        return {}
    _log.warning(
        "Observation unavailable after %.1fs (eliminated metrics node); "
        "counters default to 0",
        timeout_s,
    )
    return {}


def _bucket_rows(entries: list[dict]) -> list[dict]:
    """Per-bucket lineage rows ``[{bucket, rows_out}]`` of file entries."""
    per_bucket: dict[int, int] = {}
    for e in entries:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + e["rows"]
    return [{"bucket": b, "rows_out": n} for b, n in sorted(per_bucket.items())]


def newest_wins_reduce(
    batch: DataFrame,
    key_cols: list[str],
    order_col: str = "event_seq",
    salt_partitions: int = 0,
) -> DataFrame:
    """One row per key: the highest ``order_col`` wins — deterministically.

    Tightens MergeReducerBase's last-seen-wins (reference :31-51) to a total
    order. NULL keys are an error, as in the reference mapper
    (MergeMapperBase.java:70-84 throws on null key).

    With ``salt_partitions > 0`` a salted partial max-reduce runs first:
    rows pre-aggregate on (key, salt) — spreading a hot key's rows over
    ``salt_partitions`` shuffle partitions — before the exact per-key
    window. Skew notes (bench ``skew_hot_*`` triplet + BASELINE.md): on
    Spark ≥3.5 the UNSALTED plan is already skew-resistant, because
    Catalyst inserts ``WindowGroupLimit(... row_number, 1, Partial)``
    below the Exchange (pinned in PLANS.md) — each map task forwards at
    most one row per key, so the hot key reaches the reduce side ≤
    num_map_partitions times. Salting is the explicit mitigation the
    north rule requires and what rescues the straggler on engines/plans
    where that rule cannot fire (disabled via
    ``spark.sql.optimizer.windowGroupLimitThreshold=-1`` in the bench's
    no-limit baseline, where salting wins ~4×).
    """
    null_pred = None
    for k in key_cols:
        p = F.col(k).isNull()
        null_pred = p if null_pred is None else (null_pred | p)

    df = batch
    if salt_partitions > 1:
        salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_partitions))
        df = (
            df.withColumn("_salt", salt)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*key_cols, "_salt").orderBy(F.col(order_col).desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_salt")
        )

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Null-key guard evaluated inside the same plan (no extra pass):
    # assert_true raises on the first null-keyed row; its result is NULL for
    # passing rows, so the filter keeps everything.
    return out.filter(
        F.assert_true(
            ~null_pred,
            F.lit("null merge key (mirrors MergeMapperBase null-key error)"),
        ).isNull()
    )


def first_arrival_dedup(
    arrivals: DataFrame,
    id_cols: list[str],
    arrival_col: str = "ingest_seq",
) -> DataFrame:
    """Exactly-once ingest from an at-least-once delivery stream: keep the
    FIRST arrival of each event id, drop redeliveries.

    The reference assumes its JDBC source never redelivers (a SELECT range
    is read once); a log-based CDC source (binlog/WAL shipping, queue
    consumers) redelivers on reconnect, so the engine needs an explicit
    arrival-side dedup before the merge. One ascending window per id —
    Catalyst plants the same ``WindowGroupLimit(.., row_number, 1,
    Partial)`` partial pre-reduce below the Exchange as the newest-wins
    window (PLANS.md), so a redelivery storm on one hot id is bounded to
    ≤ 1 row per map task before the shuffle. Since every copy of an event
    carries identical payload, keep-first vs keep-any differs only in the
    arrival bookkeeping — but keep-first makes the op deterministic and
    auditable (the survivor's ``arrival_col`` is the id's first-seen
    position).
    """
    w = Window.partitionBy(*id_cols).orderBy(F.col(arrival_col).asc())
    return (
        arrivals.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_frames(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    order_col: str = "event_seq",
    mode: MergeMode = MergeMode.UPSERT,
    op_col: str = "op",
    reduce_new: bool = True,
    broadcast_new: bool = False,
) -> DataFrame:
    """Two-dataset newest-wins merge — the Sqoop merge *tool* as one plan.

    This is the standalone form of the merge (no lake table): given an
    ``old`` snapshot and a ``new`` batch, emit one row per key where any new
    record beats the old record, exactly the reference's
    ``sqoop merge --new-data --onto --merge-key`` semantics
    (tool/MergeTool.java:78-208; MergeReducerBase.java:31-51) with the
    last-seen-wins nondeterminism tightened to max ``order_col``.

    ``mode`` maps the export update modes onto the same plan
    (UpdateOutputFormat.java:85-211; MySQLManager.java:131-153):
    UPSERT honors an ``op`` column ('delete' removes the key), UPDATE_ONLY
    drops unmatched new keys, ALLOW_INSERT inserts them. Output columns =
    ``old``'s columns (the table schema).

    Scale: one shuffle for the reduce window + one join that AQE converts to
    broadcast when the reduced batch is small; pass ``broadcast_new=True``
    to force the hint when the caller knows the batch is tiny.
    """
    if op_col not in new.columns:
        new = new.withColumn(op_col, F.lit("upsert"))
    if reduce_new:
        new = newest_wins_reduce(new, key_cols, order_col)

    data_cols = [c for c in old.columns]
    payload_cols = [c for c in data_cols if c not in key_cols]

    new_side = new.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        *[F.col(c).alias(f"_n_{c}") for c in payload_cols if c in new.columns],
        F.col(op_col).alias("_op"),
    )
    if broadcast_new:
        new_side = F.broadcast(new_side)

    cond = None
    for k in key_cols:
        p = old[k].eqNullSafe(new_side[f"_k_{k}"])
        cond = p if cond is None else (cond & p)
    # UPDATE_ONLY never emits unmatched new keys → a left join suffices, and
    # unlike full-outer (which Spark can only run as a shuffle join), a left
    # join with a small broadcast new side becomes a BroadcastHashJoin.
    jtype = "left_outer" if mode is MergeMode.UPDATE_ONLY else "full_outer"
    joined = old.join(new_side, cond, jtype)

    has_old = old[key_cols[0]].isNotNull()
    has_new = F.col(f"_k_{key_cols[0]}").isNotNull()
    is_delete = F.col("_op") == "delete"

    if mode is MergeMode.UPSERT:
        keep = ~has_new | ~is_delete  # drop deleted keys (absent-key delete noops)
        take_new = has_new & ~is_delete
    elif mode is MergeMode.UPDATE_ONLY:
        keep = has_old  # unmatched new keys silently ignored
        take_new = has_old & has_new & ~is_delete
    else:  # ALLOW_INSERT
        keep = has_old | (has_new & ~is_delete)
        take_new = has_new & ~is_delete

    out_cols = []
    for k in key_cols:
        out_cols.append(F.coalesce(old[k], new_side[f"_k_{k}"]).alias(k))
    for c in payload_cols:
        if f"_n_{c}" in new_side.columns:
            out_cols.append(F.when(take_new, F.col(f"_n_{c}")).otherwise(old[c]).alias(c))
        else:
            out_cols.append(old[c].alias(c))
    merged = joined.filter(keep).select(*out_cols)
    if mode is MergeMode.UPSERT:
        # a key only present as a delete event yields no row; a key whose
        # newest new record is delete but which exists in old was dropped by
        # ``keep`` above — nothing further to filter.
        pass
    return merged


def _merge_apply_mor(
    table: LakeTable,
    reduced: DataFrame,
    batch_id: int | None,
    op_col: str,
    obs_in: Observation,
    post_reduce_transform,
    extra_summary: dict | None,
    auto_compact_threshold: int,
    obs_timeout: float,
) -> MergeStats:
    """Merge-on-read apply: write the reduced batch as delta files.

    One job: reduce (already applied upstream) → vectorized transforms →
    bucket-partitioned delta write. No old-side read, no join, no rewrite —
    per-event cost is O(1) in table size. Deterministic resolution happens
    in LakeTable._resolve; compaction amortizes it.
    """
    if post_reduce_transform is not None:
        reduced = post_reduce_transform(reduced)
    obs_out = Observation(f"mor-out-{batch_id}")
    reduced = reduced.observe(
        obs_out,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.when(F.col(op_col) == "delete", 1).otherwise(0)).alias("deletes"),
    )
    got: dict = {}

    def lineage(entries: list[dict]) -> dict:
        # The delta write job has filled both Observations: the counters
        # go into the one manifest link.
        got.update(_safe_observation(obs_out, obs_timeout))
        got.update(_safe_observation(obs_in, obs_timeout))
        return {
            "batch_id": batch_id,
            "buckets": _bucket_rows(entries),
            "counters": {
                "rows_in": int(got.get("events_in") or 0),
                "delta_rows": int(got.get("rows_out") or 0),
                "delete_markers": int(got.get("deletes") or 0),
            },
        }

    # Delta files are append-shaped (read-time resolution orders by the
    # order column), so a lost manifest race — realistically: against a
    # concurrently-running compactor — rebases safely onto the winner.
    manifest = table.append_delta(
        reduced, batch_id=batch_id, op_col=op_col, summary=extra_summary,
        lineage=lineage, retry_conflicts=2,
    )
    counters = manifest["lineage"]["counters"]

    hot = [
        b
        for b, c in table.delta_file_counts().items()
        if c >= auto_compact_threshold
    ]
    if hot:
        # retry around a cross-process racer (another ingest stream or an
        # external maintain --compact); the in-process stream is serial
        table.compact(hot, retry_recompute=2)

    deletes = counters["delete_markers"]
    return MergeStats(
        batch_id=batch_id,
        rows_in=counters["rows_in"],
        carried=0,
        updated=0,
        inserted=counters["delta_rows"] - deletes,
        deleted=deletes,
        buckets_touched=len(manifest["lineage"]["buckets"]),
        buckets_total=table.num_buckets,
        counters_missing="events_in" not in got,
    )


def _split_zone_carry(
    entries: list[dict], batch_ranges: dict[int, list]
) -> tuple[list[dict], list[dict]]:
    """Partition the affected buckets' base file entries into ``(touched,
    carry)``: an entry is carried — kept in the CoW commit BY REFERENCE,
    never read or rewritten — when :func:`entry_excluded` (the one
    zone-map rule, lake/pruning.py) proves no batch key can equal any row
    key in it. ``batch_ranges`` holds, per bucket, the terms ``(k, ">=",
    [batch min])`` and ``(k, "<=", [batch max])`` of every key column,
    spelled in the bounds' encoding; equality needs every column inside
    the file's bounds, so one excluding term is proof. Write
    amplification of a CoW merge drops from O(bucket) to O(files the
    batch keys can actually touch) — Iceberg's "overwrite only
    overlapping data files", material on clustered tables
    (``rewrite_clustered``) where each file covers a narrow key range.

    Fail-closed to touched wherever a bound is missing or cannot be
    compared (pre-stats files, types with no order-preserving JSON
    form). Buckets holding delta or tombstone files are fully touched:
    delta resolution is bucket-granular and must fold into the rewrite,
    and the full-bucket CoW contract drops spent tombstones — carrying
    base files around them would change that.
    """
    full_rewrite = {
        e["bucket"] for e in entries if e.get("delta") or e.get("tombstone")
    }
    touched: list[dict] = []
    carry: list[dict] = []
    for e in entries:
        skip = e["bucket"] not in full_rewrite and entry_excluded(
            e.get("stats"), batch_ranges.get(e["bucket"], [])
        )
        (carry if skip else touched).append(e)
    return touched, carry


def merge_apply(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int | None = None,
    mode: MergeMode = MergeMode.UPSERT,
    op_col: str = "op",
    order_col: str = "event_seq",
    reduce_batch: bool = True,
    salt_partitions: int = 0,
    extra_summary: dict | None = None,
    post_reduce_transform=None,
    strategy: str = "cow",
    auto_compact_threshold: int = 16,
    obs_timeout: float = 10.0,
    commit_retry_disjoint: int = 0,
) -> MergeStats:
    """Apply one change batch to the lake table.

    ``batch`` must carry the table's columns plus ``op_col`` ('upsert'/
    'insert'/'update'/'delete') and ``order_col``. Returns per-batch stats;
    the commit records them in the snapshot summary together with the
    batch-id fence and a per-bucket lineage manifest.

    Strategies:
    - ``cow`` (copy-on-write): full-outer join against the touched buckets,
      rewrite them. Exact per-batch counters. Within each affected
      bucket, base files whose key zone maps are disjoint from the
      batch's key range (recorded by the same probe job) are carried by
      reference instead of read+rewritten, so write volume is
      O(overlapping files), not O(bucket data).
    - ``mor`` (merge-on-read): append newest-wins delta files; resolution
      happens at read time / compaction (LakeTable._resolve). Write volume
      O(batch) — the 10^10-event scale path (a CoW rewrite per batch is
      O(table) write amplification). Buckets whose unmerged delta-file
      count reaches ``auto_compact_threshold`` are compacted after the
      commit, bounding read amplification.

    The CoW commit pins its base snapshot: a concurrent commit raises
    ``ConcurrentCommitError`` rather than being silently dropped from the
    carry. ``commit_retry_disjoint`` > 0 lets a lost race rebase when the
    winner touched only OTHER buckets (partitioned multi-writer streams);
    an overlapping winner always surfaces for recompute. MoR delta
    commits rebase automatically (append-shaped).
    """
    key_cols = table.key_columns
    if batch_id is not None and table.is_fenced(batch_id):
        raise EngineError(f"batch {batch_id} already applied (fenced)")

    if strategy == "mor":
        # The write side orders deltas by order_col but read-time resolution
        # (LakeTable._resolve) orders by the TABLE's order_column — a
        # mismatch would silently diverge from CoW semantics, and an order
        # column missing from the table schema is dropped by _prepare_df
        # (delta files would then fail at resolve time). Refuse both, before
        # any plan references the column.
        mor_data_cols = [f.name for f in table.schema().fields]
        if order_col not in mor_data_cols:
            raise EngineError(
                f"merge strategy 'mor' requires order column {order_col!r} to be "
                f"a table column (table has {mor_data_cols}); MoR resolution "
                "happens at read time and can only order by stored columns"
            )
        if order_col != table.order_column:
            raise EngineError(
                f"merge strategy 'mor' order_col {order_col!r} differs from the "
                f"table's order_column property {table.order_column!r}; read-time "
                "resolution would order by a different column than the writer"
            )

    if op_col not in batch.columns:
        batch = batch.withColumn(op_col, F.lit("upsert"))

    # Affected buckets (CoW only): distinct bucket ids of the RAW batch
    # keys — the newest-wins reduce cannot change the key set, so probing
    # before the window/UDF chain reads just the key columns (parquet
    # column pruning) instead of materializing the transformed batch. Tiny
    # result (≤ num_buckets rows); this is the pruning key. The SAME probe
    # job also records per-bucket [min, max] of every key column — the
    # batch-side half of the file-granular zone-map carry
    # (``_split_zone_carry``); no extra job, the min/max partials ride the
    # groupBy's map-side combine. It is collected as Arrow, so a timestamp
    # bound is an instant, spelled like the footer bounds whatever the
    # session time zone. MoR reads no old side, so it runs no probe: its
    # ``buckets_touched`` counts the buckets of the delta files it commits.
    affected: list[int] = []
    batch_ranges: dict[int, list] = {}
    if strategy != "mor":
        aggs = []
        for k in key_cols:
            aggs.append(F.min(F.col(k)).alias(f"_mn_{k}"))
            aggs.append(F.max(F.col(k)).alias(f"_mx_{k}"))
        probe = (
            batch.select(table.bucket_expr().alias("_b"), *key_cols)
            .groupBy("_b")
            .agg(*aggs)
            .toArrow()
        )
        types = {f.name: f.dataType for f in table.schema().fields}
        for i, b in enumerate(probe.column("_b").to_pylist()):
            batch_ranges[b] = [
                (k, op, [canon_bound(probe.column(f"{c}{k}")[i], types[k])])
                for k in key_cols
                for op, c in ((">=", "_mn_"), ("<=", "_mx_"))
            ]
        affected = sorted(batch_ranges)

    obs_in = Observation(f"merge-in-{batch_id}")
    batch = batch.observe(obs_in, F.count(F.lit(1)).alias("events_in"))
    if reduce_batch:
        batch = newest_wins_reduce(batch, key_cols, order_col, salt_partitions)
    else:
        # The null-key guard normally lives inside the reduce; callers that
        # skip it still must not write null-keyed rows (MergeMapperBase
        # null-key error).
        null_pred = None
        for k in key_cols:
            p = F.col(k).isNull()
            null_pred = p if null_pred is None else (null_pred | p)
        batch = batch.filter(
            F.assert_true(
                ~null_pred,
                F.lit("null merge key (mirrors MergeMapperBase null-key error)"),
            ).isNull()
        )
    if strategy == "mor":
        if mode is not MergeMode.UPSERT:
            # UPDATE_ONLY / ALLOW_INSERT need match-against-old knowledge at
            # write time, which MoR deliberately defers — refuse loudly
            # rather than silently applying upsert semantics.
            raise EngineError(
                f"merge strategy 'mor' supports only UPSERT mode, got {mode.value}; "
                "use strategy='cow' for export update modes"
            )
        return _merge_apply_mor(
            table,
            batch,
            batch_id,
            op_col,
            obs_in,
            post_reduce_transform,
            extra_summary,
            auto_compact_threshold,
            obs_timeout,
        )
    if post_reduce_transform is not None:
        # Vectorized row transforms (normalize + sha fingerprint pandas
        # UDFs) run on the one-row-per-key survivors only — at high
        # duplicate ratios this divides the Python-side work by the dup
        # factor, and the whole chain executes exactly once, inside the
        # single write job (no persist, no double window shuffle).
        batch = post_reduce_transform(batch)

    batch = batch.withColumn("_bucket", table.bucket_expr())
    if not affected:
        # Still fence the empty batch for exactly-once. An empty commit
        # changes no buckets, so a lost race is ALWAYS rebasable — honor
        # the same retry budget as the non-empty path.
        def commit_empty() -> dict:
            empty = table.manifest()
            return table._commit(
                "merge",
                empty["files"],
                batch_id,
                {**(extra_summary or {}), "empty": True},
                {"batch_id": batch_id, "buckets": [], "counters": {}},
                base=empty,
            )

        table._retrying(commit_retry_disjoint, commit_empty)
        return MergeStats(batch_id, 0, 0, 0, 0, 0, 0, table.num_buckets)

    # Old-side logical row count observed in the same pass (manifest sums
    # would overcount when MoR delta files are present in these buckets).
    obs_old = Observation(f"merge-old-{batch_id}")
    # The snapshot this merge is computed against: pins the commit base so
    # a concurrent commit surfaces as ConcurrentCommitError instead of
    # silently vanishing from the carried file list (lake/table.py _commit).
    base_version = table.current_version()
    # File-granular CoW: within affected buckets, split the base files
    # into touched (read + rewritten) and carry (key zone maps prove no
    # batch key lands in them — committed by reference, zero IO).
    base_entries = table._entries(base_version, buckets=set(affected))
    touched_entries, carry_entries = _split_zone_carry(base_entries, batch_ranges)
    old = (
        table._state_of_entries(touched_entries, base_version)
        .observe(obs_old, F.count(F.lit(1)).alias("old_rows"))
        .withColumn("_bucket", table.bucket_expr())
    )

    data_cols = [f.name for f in table.schema().fields]
    payload_cols = [c for c in data_cols if c not in key_cols]

    new_side = batch.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        *[F.col(c).alias(f"_n_{c}") for c in payload_cols if c in batch.columns],
        F.col(op_col).alias("_op"),
        F.col("_bucket").alias("_n_bucket"),
    )
    # Join strategy: with AQE on (session default) Spark converts SMJ →
    # broadcast at runtime from the *actual* reduced-batch size, which is the
    # right call at every scale.

    # Plain equality, not eqNullSafe: null keys were already rejected by
    # newest_wins_reduce's guard, and null-safe joins key the shuffle on
    # coalesce(k, ...) expressions — which blocks Catalyst from reusing the
    # window's hashpartitioning(keys) exchange, double-shuffling the batch.
    cond = None
    for k in key_cols:
        p = old[k] == new_side[f"_k_{k}"]
        cond = p if cond is None else (cond & p)

    joined = old.join(new_side, cond, "full_outer")

    has_old = F.col(key_cols[0]).isNotNull()  # old side key present
    has_new = F.col(f"_k_{key_cols[0]}").isNotNull()
    is_delete = F.col("_op") == "delete"
    # Seq-aware newest-wins vs the TABLE row, not just within the batch:
    # a batch row older than the stored row is stale and must not apply
    # (out-of-order delivery — e.g. a file-stream epoch replaying an old
    # range). Possible only when the order column is part of the table
    # schema; otherwise fall back to the reference's dataset-precedence
    # (the new dataset always wins, MergeReducerBase semantics).
    if order_col in data_cols and f"_n_{order_col}" in new_side.columns:
        # A delete with event_seq EQUAL to the stored row's is also stale:
        # the stored row proves that seq was applied as an upsert, and MoR
        # resolution breaks the same tie in favor of the upsert
        # (LakeTable._resolve orders by _op desc) — keep both strategies
        # byte-identical.
        new_seq = F.col(f"_n_{order_col}")
        stale = has_new & has_old & (
            (new_seq < old[order_col]) | ((new_seq == old[order_col]) & is_delete)
        )
    else:
        stale = F.lit(False)

    # Classification per (mode, match) — the WHEN MATCHED / NOT MATCHED matrix.
    if mode is MergeMode.UPSERT:
        src = (
            F.when(~has_new, F.lit("carry"))
            .when(stale, F.lit("carry"))
            .when(is_delete & has_old, F.lit("delete"))
            .when(is_delete, F.lit("noop"))  # delete of absent key
            .when(has_old, F.lit("update"))
            .otherwise(F.lit("insert"))
        )
    elif mode is MergeMode.UPDATE_ONLY:
        src = (
            F.when(~has_new, F.lit("carry"))
            .when(is_delete, F.when(has_old, F.lit("carry")).otherwise(F.lit("noop")))
            .when(has_old, F.lit("update"))
            .otherwise(F.lit("noop"))  # unmatched key silently ignored
        )
    else:  # ALLOW_INSERT
        src = (
            F.when(~has_new, F.lit("carry"))
            .when(is_delete, F.when(has_old, F.lit("carry")).otherwise(F.lit("noop")))
            .when(has_old, F.lit("update"))
            .otherwise(F.lit("insert"))
        )

    take_new = src.isin("update", "insert")
    out_cols = []
    for k in key_cols:
        out_cols.append(F.coalesce(old[k], new_side[f"_k_{k}"]).alias(k))
    for c in payload_cols:
        if f"_n_{c}" in new_side.columns:
            out_cols.append(F.when(take_new, F.col(f"_n_{c}")).otherwise(old[c]).alias(c))
        else:
            out_cols.append(old[c].alias(c))
    out_cols.append(F.coalesce(F.col("_bucket"), F.col("_n_bucket")).alias("_bucket"))
    out_cols.append(src.alias("_src"))

    merged = joined.select(*out_cols).filter(~F.col("_src").isin("delete", "noop"))

    obs = Observation(f"merge-{batch_id}")
    merged = merged.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.when(F.col("_src") == "carry", 1).otherwise(0)).alias("carried"),
        F.sum(F.when(F.col("_src") == "update", 1).otherwise(0)).alias("updated"),
        F.sum(F.when(F.col("_src") == "insert", 1).otherwise(0)).alias("inserted"),
    )
    merged = merged.drop("_src")

    # Rows in carried files never flow through the plan: count them into
    # `carried` (and symmetrically into old_rows) from manifest metadata,
    # keeping `deleted = old - carried - updated` exact under file skip.
    skipped_rows = sum(e["rows"] for e in carry_entries)
    got_in: dict = {}

    def lineage(entries: list[dict]) -> dict:
        # The write job has filled every Observation, so the counters go
        # into the one manifest link. AQE's empty-relation propagation can
        # eliminate a CollectMetrics node when the merged subtree is empty
        # (e.g. a batch that deletes every row of its buckets) — a missing
        # observation reads as an empty write.
        got = _safe_observation(obs, obs_timeout)
        carried = int(got.get("carried") or 0) + skipped_rows
        updated = int(got.get("updated") or 0)
        got_old = _safe_observation(obs_old, obs_timeout)
        if "old_rows" in got_old:
            old_rows_touched = int(got_old.get("old_rows") or 0) + skipped_rows
        elif any(e.get("delta") for e in touched_entries):
            # Metrics node eliminated: with MoR deltas in the touched
            # buckets logical rows are unknowable without a job, so count
            # conservatively (deleted reports 0; state is still correct).
            old_rows_touched = carried + updated
        else:
            # ... without deltas the BASE manifest's physical rows are exact.
            old_rows_touched = sum(e["rows"] for e in base_entries)
        got_in.update(_safe_observation(obs_in, obs_timeout))
        # Per-bucket lineage of the committed buckets — after a disjoint
        # rebase they still hold exactly the carried and written files: the
        # per-partition checkpoint/lineage manifest with counters the north
        # rule requires (upgrade of GenericJobStorage's job rows).
        return {
            "batch_id": batch_id,
            "buckets": _bucket_rows(carry_entries + entries),
            "counters": {
                "rows_in": int(got_in.get("events_in") or 0),
                "carried": carried,
                "updated": updated,
                "inserted": int(got.get("inserted") or 0),
                "deleted": old_rows_touched - carried - updated,
                "old_rows_touched": old_rows_touched,
                # File-granular CoW observability: how many base files the
                # key zone maps let this merge keep by reference (and their
                # rows).
                "files_carried": len(carry_entries),
                "files_rewritten_from": len(touched_entries),
                "rows_carried_by_file_skip": skipped_rows,
            },
        }

    manifest = table.overwrite_buckets(
        merged,
        affected,
        batch_id=batch_id,
        summary=extra_summary,
        lineage=lineage,
        base_version=base_version,
        retry_conflicts=commit_retry_disjoint,
        carry_entries=carry_entries,
    )
    c = manifest["lineage"]["counters"]
    return MergeStats(
        batch_id=batch_id,
        rows_in=c["rows_in"],
        carried=c["carried"],
        updated=c["updated"],
        inserted=c["inserted"],
        deleted=c["deleted"],
        buckets_touched=len(affected),
        buckets_total=table.num_buckets,
        counters_missing="events_in" not in got_in,
    )
