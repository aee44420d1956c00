"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and an
order-insensitive value hash (stringified cells, columns sorted by name,
rows sorted). Usage::

    python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from sqoop_spark.session import build_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(parallelism=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif frame_hash(sdf) != frame_hash(odf):
            problems.append("value-hash mismatch")
            for c in sorted(sdf.columns):
                a = sorted(sdf[c].map(str))
                b = sorted(odf[c].map(str))
                if a != b:
                    bad = next((x, y) for x, y in zip(a, b) if x != y) if len(a) == len(b) else ("len", "diff")
                    problems.append(f"  col {c}: first diff {bad}")
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"{name}: {status} rows={len(sdf)} [{time.time()-t0:.1f}s]")
        if problems:
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
