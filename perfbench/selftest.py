#!/usr/bin/env python3
"""Self-test of the benchmark harness at a tiny size.

    python3 perfbench/selftest.py

Checks that:
  * every end-to-end and per-layer metric prints, with its unit, for every
    workload, and the oracle gate passes on the engine's own output;
  * the oracle gate fails on a deliberately corrupted copy of a table, on
    a tampered lookup result and on a wrong read_since count;
  * traced spans nest (a child lies inside its parent and shares its
    trace id);
  * exact counts repeat between two traced runs of the same seed.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench import run as bench  # noqa: E402

EXACT = [
    "cdc.engine.jobs_per_exec",
    "cdc.engine.tasks_per_exec",
    "cdc.merge.counters_missing",
    "lake.commits",
    "lake.compactions",
    "lake.files_written",
    "lake.rows_written_per_event",
    "lake.delta_files_max",
    "lake.lookup.jobs",
    "lake.read_since.jobs",
]


def fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def bench_run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        fail(f"{workload} trace={trace} exit {p.returncode}: {p.stderr[-1500:]}")
    return json.loads(lines[-1])


def check_result(res: dict, spec: list[dict], what: str) -> None:
    if not res["correct"] or res["failed"]:
        fail(f"{what}: oracle gate failed on unmodified code: {res}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"{what}: metrics/units {got} != {want}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            fail(f"{what}: {k} is not a number")


def check_spans(path: str) -> None:
    with open(path) as f:
        spans = {s["id"]: s for s in map(json.loads, f)}
    nested = 0
    for s in spans.values():
        if s["end"] < s["start"]:
            fail(f"span {s['id']} ends before it starts")
        p = spans.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None:
            if p is None or not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
                fail(f"span {s['id']} ({s['name']}) not inside its parent")
            if p["trace"] != s["trace"]:
                fail(f"span {s['id']} has another trace id than its parent")
            nested += 1
    if not nested:
        fail(f"no nested spans in {path}")


def check_gate() -> None:
    """The oracle gate passes on a real table and fails on corrupted ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sqoop_spark.cdc import CdcEngine, JobStore
    from sqoop_spark.lake import LakeTable

    shutil.rmtree(bench.SCRATCH, ignore_errors=True)
    os.makedirs(bench.SCRATCH)
    spark = bench.start_spark()
    try:
        land = os.path.join(bench.SCRATCH, "land")
        bench.stage(spark, land, seed=7, preload=300, batch=200, n_batches=2)
        events = spark.read.parquet(land)
        eng = CdcEngine.create_table(
            spark, os.path.join(bench.SCRATCH, "t"), num_buckets=4)
        store = JobStore(os.path.join(bench.SCRATCH, "jobs"))
        store.create("w", {})
        for k in range(3):
            eng.run_incremental(events.filter(F.col("batch_id") <= k),
                                job="w", job_store=store)

        def export(table: LakeTable) -> str:
            out = os.path.join(bench.SCRATCH, f"export-{os.path.basename(table.path)}")
            bench.export_table(table, out)
            return out

        if oracle.check_final(land, 2, export(eng.table)):
            fail("final-state gate failed on an uncorrupted table")
        copy = os.path.join(bench.SCRATCH, "t_corrupt")
        shutil.copytree(eng.table.path, copy)
        bad = LakeTable.load(spark, copy)
        victim = next(e for e in bad.manifest()["files"] if e["rows"] > 0)
        path = os.path.join(copy, victim["path"])
        tbl = pq.read_table(path)
        i = tbl.schema.get_field_index("content_sha")
        shas = tbl.column(i).to_pylist()
        shas[0] = "0" * 64
        pq.write_table(tbl.set_column(i, "content_sha", pa.array(shas)), path)
        # drop the stale Hadoop checksum so the reader sees the new bytes
        d, name = os.path.split(path)
        os.remove(os.path.join(d, f".{name}.crc"))
        if not oracle.check_final(land, 2, export(bad)):
            fail("final-state gate passed a table with a corrupted content_sha")

        row = eng.table.read().first()
        got = [r["content_sha"] for r in
               eng.table.lookup({"repo": row["repo"], "path": row["path"]}).collect()]
        rec = dict(k=2, repo=row["repo"], path=row["path"], got=got)
        if oracle.check_lookups(land, [rec]):
            fail("lookup gate failed on a real lookup")
        if not oracle.check_lookups(land, [{**rec, "got": ["0" * 64]}]):
            fail("lookup gate passed a tampered lookup result")
        n = eng.table.read_since("event_seq", 350).count()
        if oracle.check_read_since(land, [dict(k=2, wm=350, got=n)]):
            fail("read_since gate failed on a real read")
        if not oracle.check_read_since(land, [dict(k=2, wm=350, got=n + 1)]):
            fail("read_since gate passed a wrong count")
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(bench.SCRATCH, ignore_errors=True)
    print("ok: oracle gate passes real tables and fails corrupted ones")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_gate()
    for w in (x["name"] for x in spec["workloads"]):
        check_result(bench_run(w, 1, 0), spec["end_to_end"], f"{w} untraced")
        a = bench_run(w, 1, 1)
        check_result(a, spec["per_layer"], f"{w} traced")
        check_spans(os.path.join(bench.OUT, f"spans-{w}-seed1.jsonl"))
        b = bench_run(w, 1, 1)
        for k in EXACT:
            if a["metrics"][k]["value"] != b["metrics"][k]["value"]:
                fail(f"{w}: exact count {k} differs between runs: "
                     f"{a['metrics'][k]['value']} vs {b['metrics'][k]['value']}")
        print(f"ok: {w}: all metrics with units, spans nest, exact counts repeat")
    print("selftest passed")


if __name__ == "__main__":
    main()
