"""Independent correctness gate: DuckDB replays the landing zone.

The landing zone is the batch-partitioned parquet the engine consumed.
DuckDB computes newest-wins per ``(repo, path)`` over the events of every
batch up to a given one, which is the state the table must hold after
that batch. Nothing here goes through the engine's code.
"""

from __future__ import annotations

import duckdb


def _connect(landing: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        "CREATE VIEW ev AS SELECT repo, path, event_seq, batch_id, op, "
        f"content_sha FROM read_parquet('{landing}/*/*.parquet', "
        "hive_partitioning = true)"
    )
    return con


_STATE = """
SELECT repo, path, event_seq, content_sha FROM (
  SELECT *, row_number() OVER (PARTITION BY repo, path
                               ORDER BY event_seq DESC) AS rn
  FROM ev WHERE batch_id <= {k}
) WHERE rn = 1 AND op = 'upsert'
"""


def batch_keys(landing: str, batches: list[int]) -> dict[int, list[tuple]]:
    """Distinct keys of each batch in ``batches``, in event order."""
    con = _connect(landing)
    try:
        rows = con.execute(
            "SELECT batch_id, repo, path, min(event_seq) s FROM ev "
            f"WHERE batch_id IN ({','.join(map(str, batches))}) "
            "GROUP BY ALL ORDER BY batch_id, s"
        ).fetchall()
    finally:
        con.close()
    out: dict[int, list[tuple]] = {b: [] for b in batches}
    for b, repo, path, _ in rows:
        out[b].append((repo, path))
    return out


def all_keys(landing: str) -> list[tuple]:
    """Every distinct key of the landing zone, in a fixed order."""
    con = _connect(landing)
    try:
        return con.execute(
            "SELECT DISTINCT repo, path FROM ev ORDER BY repo, path"
        ).fetchall()
    finally:
        con.close()


def check_final(landing: str, last_batch: int, table_parquet: str) -> int:
    """Mismatches between the table's rows (exported to ``table_parquet``
    with columns repo, path, content, content_sha) and newest-wins over
    batches ``<= last_batch``: a missing, extra or duplicated key, a
    differing ``content_sha``, or a ``content_sha`` that is not
    ``sha256(content)``."""
    con = _connect(landing)
    try:
        con.execute(
            f"CREATE VIEW got AS SELECT * FROM read_parquet('{table_parquet}/*.parquet')"
        )
        want = _STATE.format(k=int(last_batch))
        return con.execute(
            f"""
            SELECT
              (SELECT count(*) FROM got WHERE content_sha IS DISTINCT FROM sha256(content))
            + (SELECT count(*) FROM (SELECT repo, path FROM got
                                     GROUP BY ALL HAVING count(*) > 1))
            + (SELECT count(*) FROM ({want}) w FULL OUTER JOIN
                 (SELECT DISTINCT repo, path, content_sha FROM got) g
                 USING (repo, path)
               WHERE w.content_sha IS DISTINCT FROM g.content_sha)
            """
        ).fetchone()[0]
    finally:
        con.close()


def check_lookups(landing: str, lookups: list[dict]) -> int:
    """Lookups whose result differs from the key's state after the batch
    that was last applied when the lookup ran. Each record has ``k``,
    ``repo``, ``path`` and ``got`` (the returned content_sha values)."""
    if not lookups:
        return 0
    con = _connect(landing)
    try:
        bad = 0
        for r in lookups:
            row = con.execute(
                "SELECT op, content_sha FROM ev WHERE repo = ? AND path = ? "
                "AND batch_id <= ? ORDER BY event_seq DESC LIMIT 1",
                [r["repo"], r["path"], r["k"]],
            ).fetchone()
            want = [row[1]] if row and row[0] == "upsert" else []
            bad += sorted(r["got"]) != want
        return bad
    finally:
        con.close()


def check_read_since(landing: str, reads: list[dict]) -> int:
    """``read_since`` counts that differ from the number of live rows with
    ``event_seq > wm`` after batch ``k``."""
    con = _connect(landing)
    try:
        bad = 0
        for r in reads:
            wm = -1 if r["wm"] is None else int(r["wm"])
            want = con.execute(
                f"SELECT count(*) FROM ({_STATE.format(k=int(r['k']))}) "
                f"WHERE event_seq > {wm}"
            ).fetchone()[0]
            bad += r["got"] != want
        return bad
    finally:
        con.close()
