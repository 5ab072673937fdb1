"""The benchmark's own tests: seeded inputs, the stub, the output checks
and the printed result.

    python3 -m pytest perfbench -q

The smoke runs start a SparkSession per workload and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from urllib.error import HTTPError
from urllib.parse import urlencode
from urllib.request import urlopen

import numpy as np
import pytest

from perfbench import gen, oracle
from perfbench.stub import StubPrometheus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def fetch(stub, query, start, end, step):
    qs = urlencode({"query": query, "start": start, "end": end, "step": step})
    with urlopen(f"{stub.url}/api/v1/query_range?{qs}", timeout=10) as resp:
        return json.load(resp)


@pytest.fixture
def stub():
    s = StubPrometheus(5, lambda q: 2, missing=0.0)
    yield s
    s.close()


def test_same_seed_same_bytes():
    ts = gen.grid(gen.HISTORY_START, gen.HISTORY_START + 3600, 10)
    a = gen.range_body(7, 3, 2, ts, 0.05)
    assert a == gen.range_body(7, 3, 2, ts, 0.05)
    assert a != gen.range_body(8, 3, 2, ts, 0.05)


def test_samples_do_not_depend_on_chunking():
    ts = gen.grid(gen.HISTORY_START, gen.HISTORY_START + 7200, 10)
    whole, keep = gen.block(3, 5, 2, ts, 0.05)
    first, k1 = gen.block(3, 5, 2, ts[:300], 0.05)
    second, k2 = gen.block(3, 5, 2, ts[300:], 0.05)
    assert np.array_equal(whole, np.concatenate([first, second], axis=1))
    assert np.array_equal(keep, np.concatenate([k1, k2], axis=1))
    assert 0 < (~keep).sum() < keep.size  # fill has work to do


def test_stub_range_is_inclusive_and_step_aligned(stub):
    body = fetch(stub, gen.QUERIES["load1"], 1000, 1060, 15)
    assert body["status"] == "success"
    result = body["data"]["result"]
    assert len(result) == 2  # two series: the first-series rule applies
    assert [int(t) for t, _ in result[0]["values"]] == [1000, 1015, 1030, 1045, 1060]
    # an end off the grid stops at the last grid point before it
    body = fetch(stub, gen.QUERIES["load1"], 1000, 1059, 15)
    assert [int(t) for t, _ in body["data"]["result"][0]["values"]][-1] == 1045
    assert stub.requests == 2 and stub.bytes > 0 and stub.non_2xx == 0
    assert stub.log[0] == (gen.QUERY_INDEX[gen.QUERIES["load1"]], 1000, 1060, 5)


def test_stub_counts_bad_requests(stub):
    with pytest.raises(HTTPError) as err:
        fetch(stub, "no_such_query", 0, 10, 1)
    assert err.value.code == 400
    assert stub.requests == 1 and stub.non_2xx == 1


def test_live_stub_serves_only_the_past():
    live = StubPrometheus(1, lambda q: 1, live=True)
    try:
        now = int(time.time())
        body = fetch(live, gen.QUERIES["load1"], now - 5, now + 60, 1)
        last = int(body["data"]["result"][0]["values"][-1][0])
        assert now <= last <= int(time.time())
    finally:
        live.close()


def test_history_oracle_keeps_first_series_and_fills():
    n_series = lambda q: 2 if q == 0 else 1  # noqa: E731
    start = gen.HISTORY_START
    wide = oracle.history_wide(1, start, start + 600, 10, n_series, 0.2)
    ts = gen.grid(start, start + 600, 10)
    vals, keep = gen.block(1, 0, 2, ts, 0.2)
    got = wide[gen.ALIASES[0]].reindex(ts).to_numpy()
    assert np.array_equal(np.isnan(got), ~keep[0])
    assert np.array_equal(got[keep[0]], vals[0][keep[0]])
    processed = oracle.processed(wide)
    assert not processed.isna().any().any()
    assert processed.min().min() == 0.0 and processed.max().max() == 1.0


def test_coverage_check_finds_a_skipped_point():
    log = [(0, 100, 109, 10), (0, 110, 120, 11)]
    assert oracle.check_coverage(log, 1, 100, 120) == []
    assert oracle.check_coverage(log, 1, 100, 121)
    assert oracle.check_coverage([(0, 100, 108, 9), (0, 110, 120, 11)], 1, 100, 120)


def test_metric_names_match_benchmark_json():
    from perfbench import workloads

    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in SPEC[kind]]
    assert len(names) == len(set(names))
    assert {"setup_s", "peak_mem_mb"} <= {m["name"] for m in SPEC["end_to_end"]}
    # every per-layer name is emitted somewhere (cli.<stage>.* are formatted)
    here = os.path.dirname(os.path.abspath(__file__))
    src = "".join(open(os.path.join(here, f)).read() for f in ("run.py", "workloads.py"))
    for m in SPEC["per_layer"]:
        name = m["name"]
        stage = name.split(".")[1] if name.startswith("cli.") else None
        if stage not in workloads.BatchPipeline.STAGES:
            assert f'"{name}"' in src, name


def test_realtime_rates_read_zero_when_nothing_was_measured():
    from perfbench.workloads import RealtimeDetect

    rt = object.__new__(RealtimeDetect)  # no session: only the bookkeeping
    rt.results, rt.batches, rt.progress, rt.window = [], [], [], (0, 6)
    assert rt.end_to_end() == {"ingest_items_per_cpu_s": 0.0, "score_items_per_cpu_s": 0.0}
    # a stream that emitted only before the window measured nothing either
    rt.results = [("0", 6, 0.1, 0, 20, 9.0)]
    rt.batches = [{"id": 0, "received": 9.0, "rows": 1, "cpu_s": 1.0, "update_s": 0.0}]
    assert rt.end_to_end()["score_items_per_cpu_s"] == 0.0


def run_bench(cwd, workload, seconds, trace=0):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_passes_its_output_check(workload):
    proc = run_bench(ROOT, workload, 4)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = run_bench(tmp_path, SPEC["workloads"][0]["name"], 1)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
