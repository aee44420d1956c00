#!/usr/bin/env python3
"""End-to-end benchmark of the CDC engine's public API.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload tail_mor --seed 1 --seconds 30 --trace 0

One client drives a closed loop through ``CdcEngine.run_incremental`` with
a ``JobStore`` saved job (``sqoop job --exec``), ``LakeTable.lookup`` and
``LakeTable.read_since``. Change events come from
``synthesize_change_events`` seeded by ``--seed`` and are staged as a
batch-partitioned landing zone; exec *k* reveals batches ``<= k``. Event
and exec counts are fixed per run (``--seconds`` only scales them), never
a time budget. Every run is gated on a DuckDB oracle (``oracle.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans (written to ``.perfbench_out/``) and reports
the per-layer metrics. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F

PROCESS_T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_scratch")
OUT = os.path.join(ROOT, ".perfbench_out")

#: Spark settings pinned for every run (recorded in the run record). One
#: CPU is left to the driver, the Python UDF workers, JIT and GC: on a
#: 4-vCPU host local[3] ran the CoW backfill at least as fast as local[4],
#: with less run-to-run spread, and ran the MoR tail faster than local[2].
PARALLELISM = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
DRIVER_HEAP = "1g"
NUM_BUCKETS = 4
#: The engine's default auto-compaction threshold: a MoR bucket compacts
#: once it holds this many delta files. Every tail exec touches every
#: bucket, so one compaction cycle is exactly this many execs.
COMPACT_CYCLE = 16

#: Sizes at the default --seconds (30). ``execs`` scales with --seconds.
WORKLOADS = {
    # Backfill: a few large saved-job execs into a copy-on-write table.
    # After each, two downstream consumers read_since their saved
    # watermarks, and ``lookups`` point lookups probe the freshly loaded
    # table (no pending deltas). Spreading the reads between the execs
    # spreads a burst of host load over every metric's samples.
    "bulk_cow": dict(strategy="cow", preload=1_000, batch=25_000, execs=4,
                     lookups=3),
    # CDC tail with reads beside writes: one small exec at a time into a
    # merge-on-read table under default auto-compaction, over whole
    # compaction cycles; a lookup after every exec, and a read_since from
    # the consumer's saved watermark after every exec = 2 (mod 4).
    "tail_mor": dict(strategy="mor", preload=2_000, batch=1_000,
                     execs=COMPACT_CYCLE),
}
#: Self-test sizes (``--tiny``).
TINY = {
    "bulk_cow": dict(preload=500, batch=2_000, execs=2),
    "tail_mor": dict(preload=500, batch=200, execs=COMPACT_CYCLE),
}
#: Set-up rounds per run; setup_s is their median. Later rounds double as
#: the exec warm-up.
SETUPS = 3


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def tree_files(root: str) -> dict[str, tuple]:
    """path -> (inode, mtime_ns, size) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(d, name))
            out[os.path.join(d, name)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def start_spark():
    """Fresh local session with the pinned parallelism and heap; all its
    scratch (local dirs, JVM and Python temp files) inside SCRATCH."""
    tmp = os.path.join(SCRATCH, "tmp")
    local = os.path.join(SCRATCH, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from sqoop_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        parallelism=PARALLELISM,
        shuffle_partitions=PARALLELISM,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            # initial heap = max heap: no heap resizing between runs
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def stage(spark, land: str, seed: int, preload: int, batch: int, n_batches: int):
    """Write the landing zone: batch 0 holds ``preload`` events, batches
    1..n_batches ``batch`` events each; partitioned by batch_id."""
    from sqoop_spark.datagen import synthesize_change_events

    n = preload + batch * n_batches
    seq = F.col("event_seq")
    (
        synthesize_change_events(spark, n, seed=seed, num_partitions=PARALLELISM)
        .withColumn(
            "batch_id",
            F.when(seq < preload, F.lit(0)).otherwise(
                1 + ((seq - preload) / batch).cast("bigint")
            ).cast("bigint"),
        )
        .write.partitionBy("batch_id")
        .parquet(land)
    )


def calib(spark) -> float:
    """A fixed pure-JVM kernel (single task); a host-speed reference."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 1).select(F.max(F.xxhash64("id"))).collect()
    return time.perf_counter() - t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def export_table(table, out: str) -> None:
    """Write the table's logical rows for the oracle to read."""
    table.read().select("repo", "path", "content", "content_sha") \
        .write.mode("overwrite").parquet(out)


class Run:
    """One benchmark run: set-up, timed phase and per-layer extras."""

    def __init__(self, spark, tracer, workload: str, seed: int, sizes: dict):
        self.spark, self.tr = spark, tracer
        self.workload, self.seed, self.sz = workload, seed, sizes
        self.rnd = random.Random(seed)
        self.land = os.path.join(SCRATCH, "land")
        self.attempted = self.failed = 0
        self.exec_s: list[float] = []
        self.exec_events: list[int] = []
        self.exec_ops: list[list[str]] = []
        self.exec_spans: list[dict] = []
        self.lookup_s: list[float] = []
        self.lookup_files: list[int] = []
        self.read_s: list[float] = []
        self.read_files_frac: list[float] = []
        self.delta_max = 0
        self.lookups: list[dict] = []
        self.reads: list[dict] = []
        self.counters_missing = 0

    # -- operations ---------------------------------------------------------

    def exec_batch(self, k: int, timed: bool = True) -> None:
        """One saved-job exec that sees batches <= k (one new batch)."""
        ev = self.events.filter(F.col("batch_id") <= k)
        v0 = self.eng.table.current_version()
        try:
            with self.tr.span("cdc.engine.run_incremental", batch=k) as sp:
                t0 = time.perf_counter()
                rep = self.eng.run_incremental(ev, job="writer", job_store=self.store)
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed exec is counted, the run goes on
            print(f"perfbench: exec {k} failed: {e!r}", file=sys.stderr)
            if timed:
                self.attempted += 1
                self.failed += 1
            return
        if not timed:
            return
        self.attempted += 1
        self.applied = k
        self.exec_s.append(dt)
        self.exec_events.append(self.sz["preload"] if k == 0 else self.sz["batch"])
        self.counters_missing += sum(b.counters_missing for b in rep.batches)
        t = self.eng.table
        self.exec_ops.append(
            [t.manifest(v)["operation"] for v in range(v0 + 1, t.current_version() + 1)]
        )
        if sp is not None:
            self.exec_spans.append(sp)

    def lookup(self, key: tuple, timed: bool = True) -> None:
        t = self.eng.table
        if timed:
            self.delta_max = max([self.delta_max, *t.delta_file_counts().values()])
        try:
            with self.tr.span("lake.lookup"):
                t0 = time.perf_counter()
                df = t.lookup({"repo": key[0], "path": key[1]})
                rows = df.collect()
                dt = time.perf_counter() - t0
        except Exception as e:
            print(f"perfbench: lookup {key} failed: {e!r}", file=sys.stderr)
            self.attempted += timed
            self.failed += timed
            return
        if not timed:
            return
        self.attempted += 1
        self.lookup_s.append(dt)
        self.lookups.append(dict(k=self.applied, repo=key[0], path=key[1],
                                 got=[r["content_sha"] for r in rows]))
        if self.tr.enabled:
            self.lookup_files.append(len(df.inputFiles()))

    def read_since(self, wm, timed: bool = True) -> None:
        t = self.eng.table
        if timed:
            self.delta_max = max([self.delta_max, *t.delta_file_counts().values()])
        try:
            with self.tr.span("lake.read_since"):
                t0 = time.perf_counter()
                df = t.read_since("event_seq", wm)
                n = df.count()
                dt = time.perf_counter() - t0
        except Exception as e:
            print(f"perfbench: read_since {wm} failed: {e!r}", file=sys.stderr)
            self.attempted += timed
            self.failed += timed
            return
        if not timed:
            return
        self.attempted += 1
        self.read_s.append(dt)
        self.reads.append(dict(k=self.applied, wm=wm, got=n))
        if self.tr.enabled:
            live = len(t.manifest()["files"])
            self.read_files_frac.append(len(df.inputFiles()) / max(1, live))

    def writer_wm(self):
        return self.store.read("writer")["options"].get("incremental.last.value")

    def uniform_key(self) -> tuple:
        return self.rnd.choice(self.keys)

    def recent_key(self) -> tuple:
        return self.rnd.choice(self.batch_keys[self.applied])

    # -- phases ---------------------------------------------------------------

    def setup(self) -> list[float]:
        """Stage the landing zone once, then set the table up SETUPS times
        (create, saved jobs, preload exec); the last round's table is the
        one measured. Reads are warmed on the first round's table. The
        preload exec leaves a MoR table one exec into its compaction cycle,
        which is where the timed phase starts and ends."""
        from sqoop_spark.cdc import CdcEngine, JobStore
        from perfbench import oracle

        sz = self.sz
        stage(self.spark, self.land, self.seed, sz["preload"], sz["batch"], sz["execs"])
        self.events = self.spark.read.parquet(self.land)
        self.keys = oracle.all_keys(self.land)
        self.batch_keys = oracle.batch_keys(self.land, list(range(sz["execs"] + 1)))
        times: list[float] = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            with self.tr.span("setup", round=i):
                self.eng = CdcEngine.create_table(
                    self.spark, os.path.join(SCRATCH, f"table{i}"),
                    num_buckets=NUM_BUCKETS, merge_strategy=sz["strategy"],
                )
                self.store = JobStore(os.path.join(SCRATCH, f"jobs{i}"))
                self.store.create("writer", {})
                self.store.create("consumer", {})
                self.applied = 0
                self.exec_batch(0, timed=False)
                self.store.update("consumer", wm=self.writer_wm())
            times.append(time.perf_counter() - t0)
            if i == 0:
                t0 = time.perf_counter()
                self.warm()
                self.warm_s = time.perf_counter() - t0
        return times

    def warm(self) -> None:
        """Repeat each read type on the first set-up's table until its time
        stops falling (at least twice, at most three times). Execs are
        warmed by the set-up rounds themselves."""
        keys = [self.recent_key, self.uniform_key]
        ops = (
            lambda i: self.lookup(keys[i % 2](), timed=False),
            lambda i: self.read_since(None, timed=False),
        )
        for op in ops:
            ts: list[float] = []
            while len(ts) < 2 or (len(ts) < 3 and ts[-1] < 0.9 * min(ts[:-1])):
                t0 = time.perf_counter()
                op(len(ts))
                ts.append(time.perf_counter() - t0)

    def timed(self) -> None:
        sz = self.sz
        if self.workload == "tail_mor":
            for k in range(1, sz["execs"] + 1):
                self.exec_batch(k)
                self.lookup(self.recent_key() if k % 2 else self.uniform_key())
                if k % 4 == 2:
                    wm = self.store.read("consumer")["options"].get("wm")
                    self.read_since(wm)
                    self.store.update("consumer", wm=self.writer_wm())
        else:
            for k in range(1, sz["execs"] + 1):
                self.exec_batch(k)
                # two downstream consumers: one catching up from the
                # preload, one that read everything up to the last batch
                for lag in (k, 1):
                    self.read_since(sz["preload"] - 1 + (k - lag) * sz["batch"])
                for j in range(sz["lookups"]):
                    self.lookup(self.recent_key() if j % 2 == 0 else self.uniform_key())

    def staged_bytes(self, batches) -> int:
        n = 0
        for b in batches:
            d = os.path.join(self.land, f"batch_id={b}")
            n += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        return n

    def layer_extras(self) -> dict:
        """Per-layer timings of single layers (traced runs only): the
        newest-wins reduce and the fingerprint transform on one staged
        batch and the watermark probe, each into a noop sink, median of
        three; then one explicit compaction of the final table (a no-op
        check on CoW, which has no deltas)."""
        from sqoop_spark.cdc.merge import newest_wins_reduce
        from sqoop_spark.cdc.watermark import IncrementalMode, incremental_slice
        from sqoop_spark.transforms import fingerprint_content

        one = self.events.filter(F.col("batch_id") == self.applied).drop("batch_id")
        tail = self.events.filter(F.col("batch_id") <= self.applied)
        wm = self.writer_wm()

        def best(name, fn):
            ts = []
            for _ in range(3):
                with self.tr.span(name):
                    t0 = time.perf_counter()
                    fn()
                    ts.append(time.perf_counter() - t0)
            return median(ts)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        out = {
            "cdc.merge.reduce_s": best(
                "cdc.merge.newest_wins_reduce",
                lambda: noop(newest_wins_reduce(one, ["repo", "path"]))),
            "transforms.fingerprint_s": best(
                "transforms.fingerprint_content",
                lambda: noop(fingerprint_content(one))),
            "cdc.watermark.probe_s": best(
                "cdc.watermark.incremental_slice",
                lambda: incremental_slice(tail, IncrementalMode.APPEND,
                                          "event_seq", wm)),
        }
        with self.tr.span("lake.compact"):
            t0 = time.perf_counter()
            self.eng.table.compact()
            out["lake.compact_s"] = time.perf_counter() - t0
        return out

    def check(self) -> dict:
        """Oracle mismatches: rows of the final table, lookups, read_sinces."""
        from perfbench import oracle

        out = os.path.join(SCRATCH, "final")
        export_table(self.eng.table, out)
        return {
            "final_rows": oracle.check_final(self.land, self.applied, out),
            "lookups": oracle.check_lookups(self.land, self.lookups),
            "read_since": oracle.check_read_since(self.land, self.reads),
        }


def layer_metrics(run: Run, tr, manifests_before: int, v1: int,
                  written: list[int], extras: dict, calib_s: float) -> dict:
    """Per-layer metrics of the timed phase, table versions v0+1..v1."""
    t = run.eng.table
    new_rows = 0
    ops = []
    for v in range(manifests_before + 1, v1 + 1):
        m = t.manifest(v)
        ops.append(m["operation"])
        parent = {e["path"] for e in t.manifest(m["parent"])["files"]}
        new_rows += sum(e["rows"] for e in m["files"] if e["path"] not in parent)
    newest = os.path.join(t.manifest_dir, f"v{v1:08d}.json")
    job_doc = os.path.join(run.store.root, "writer.json")
    lookups = tr.named("lake.lookup")[-len(run.lookup_s):] if run.lookup_s else []
    reads = tr.named("lake.read_since")[-len(run.read_s):] if run.read_s else []
    return {
        "cdc.engine.jobs_per_exec": median([tr.total(s, "jobs") for s in run.exec_spans]),
        "cdc.engine.tasks_per_exec": median([tr.total(s, "tasks") for s in run.exec_spans]),
        "cdc.merge.counters_missing": run.counters_missing,
        **extras,
        "cdc.checkpoint.job_doc_kb": os.path.getsize(job_doc) / 1024.0,
        "lake.commits": len(ops),
        "lake.manifest_kb": os.path.getsize(newest) / 1024.0,
        "lake.compactions": ops.count("compact"),
        "lake.bytes_written": sum(written),
        "lake.files_written": len(written),
        "lake.rows_written_per_event": new_rows / max(1, sum(run.exec_events)),
        "lake.delta_files_max": run.delta_max,
        "lake.lookup.jobs": median([tr.total(s, "jobs") for s in lookups]),
        "lake.lookup.files_opened": median(run.lookup_files),
        "lake.read_since.jobs": median([tr.total(s, "jobs") for s in reads]),
        "lake.read_since.files_opened_frac": median(run.read_files_frac),
        "host.calib_s": calib_s,
        "trace.self_s": tr.self_s,
        "trace.batch_p50_s": median(run.exec_s),
        "trace.lookup_p50_ms": 1000 * median(run.lookup_s),
        "trace.read_since_p50_ms": 1000 * median(run.read_s),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sqoop_spark", "__init__.py")):
        die(f"no sqoop_spark package under {ROOT}; run from a source checkout")
    sys.path.insert(0, ROOT)
    import sqoop_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(sqoop_spark.__file__))) != ROOT:
        die(f"imported sqoop_spark from {sqoop_spark.__file__}, not {ROOT}")
    from perfbench.tracer import Tracer

    sizes = dict(WORKLOADS[args.workload])
    if args.tiny:
        sizes.update(TINY[args.workload])
    # --seconds scales the exec count, in whole compaction cycles for MoR
    scale = max(1, round(args.seconds / 30))
    sizes["execs"] *= scale

    shutil.rmtree(SCRATCH, ignore_errors=True)  # a crashed run may leave data
    os.makedirs(SCRATCH)
    os.makedirs(OUT, exist_ok=True)
    spark = start_spark()
    try:
        session_s = time.perf_counter() - PROCESS_T0
        tr = Tracer(spark, bool(args.trace))
        run = Run(spark, tr, args.workload, args.seed, sizes)
        t0 = time.perf_counter()
        setups = run.setup()
        stage_s = time.perf_counter() - t0 - sum(setups) - run.warm_s
        calib0 = [calib(spark) for _ in range(2)]

        table_dir = run.eng.table.path
        v0 = run.eng.table.current_version()
        tree0 = tree_files(table_dir)
        ticks0 = cpu_ticks()
        run.timed()
        ticks1 = cpu_ticks()
        v1 = run.eng.table.current_version()
        # share of the host's CPU time stolen by other guests while timing
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        tree1 = tree_files(table_dir)
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        extras = run.layer_extras() if args.trace else {}
        calib1 = [calib(spark) for _ in range(2)]
        t0 = time.perf_counter()
        mismatches = run.check()
        check_s = time.perf_counter() - t0
        # sizes of files created or rewritten in the timed phase
        written = [s[2] for p, s in tree1.items() if tree0.get(p) != s]
        consumed = run.staged_bytes(range(1, run.applied + 1))
        if args.trace:
            metrics = layer_metrics(run, tr, v0, v1, written, extras,
                                    median(calib0 + calib1))
            units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
            tr.write(os.path.join(
                OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": median(setups),
                "events_per_s": sum(run.exec_events) / sum(run.exec_s),
                "batch_p50_s": median(run.exec_s),
                "lookup_p50_ms": 1000 * median(run.lookup_s),
                "read_since_p50_ms": 1000 * median(run.read_s),
                "write_amp": sum(written) / consumed,
                "peak_rss_mb": rss,
            }
            units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "tiny": args.tiny, "sizes": sizes,
            "nproc": os.cpu_count(), "parallelism": PARALLELISM,
            "driver_heap": DRIVER_HEAP, "num_buckets": NUM_BUCKETS,
            "calib_start_s": calib0, "calib_end_s": calib1, "steal_frac": steal,
            "session_s": session_s, "stage_s": stage_s, "warm_s": run.warm_s,
            "setup_rounds_s": setups,
            "exec_s": run.exec_s, "exec_ops": run.exec_ops,
            "lookup_s": run.lookup_s, "read_since_s": run.read_s,
            "oracle_mismatches": mismatches, "check_s": check_s,
            "total_s": time.perf_counter() - PROCESS_T0,
            "python": platform.python_version(),
            "spark": spark.version,
        }
        with open(os.path.join(
                OUT, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                "w") as f:
            json.dump(record, f, indent=1)
        print("run-record: " + json.dumps(record))
    finally:
        stop_spark(spark)
        shutil.rmtree(SCRATCH, ignore_errors=True)
    # the final-state check is one more attempted operation
    failed = (run.failed + (mismatches["final_rows"] > 0)
              + mismatches["lookups"] + mismatches["read_since"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted + 1,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
