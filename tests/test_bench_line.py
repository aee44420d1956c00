"""The bench's compact stdout line must stay under its 1500-char cap even
when dropping every slow-query timing is not enough."""

import json
import os
from unittest import mock


def _bench():
    # importing bench.py sets a default Spark heap size in os.environ;
    # keep it out of this process's later Spark sessions
    with mock.patch.dict(os.environ):
        import bench
    return bench


def test_stdout_line_drops_slow_queries_first():
    bench = _bench()

    def compact(n_slow):
        return {"metric": "m", "value": 1.0,
                "queries": {f"q{i}": "x" * 200 for i in range(n_slow)}}

    got = json.loads(bench.stdout_line(compact, "d.json"))
    assert 0 < len(got["queries"]) < 10 and "detail_file" not in got


def test_stdout_line_falls_back_to_fixed_fields_when_oversize():
    bench = _bench()

    def compact(n_slow):
        return {"metric": "cdc_merge_apply_replay_sec", "value": 12.5,
                "blob": "x" * 5000, "queries": {}}

    line = bench.stdout_line(compact, "BENCH_local.json")
    assert len(line) <= 1500
    assert json.loads(line) == {
        "metric": "cdc_merge_apply_replay_sec",
        "value": 12.5,
        "detail_file": "BENCH_local.json",
    }
