"""Prometheus source tests: JSON decode operators (FIXTURES F2 cases)
and the Python DataSource against a stub HTTP server — no real network.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import uuid
from datetime import timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.errors import StreamingQueryException

from prometheus_anomaly_detection_lstm_spark.sources.prometheus import (
    PrometheusDataSource,
    _rows_from_payload,
    parse_response_df,
)


def _body(series):
    return json.dumps(
        {
            "status": "success",
            "data": {"resultType": "matrix", "result": series},
        }
    )


FIX = [
    # single series (normal)
    ("cpu", _body([{"metric": {"job": "x"}, "values": [[1704067200, "1.5"], [1704067320, "2.5"]]}])),
    # two series -> first-series rule (S4)
    ("mem", _body([
        {"metric": {"i": "0"}, "values": [[1704067200, "10"]]},
        {"metric": {"i": "1"}, "values": [[1704067200, "99"]]},
    ])),
    # empty result
    ("empty", _body([])),
    # error status
    ("bad", json.dumps({"status": "error", "errorType": "timeout", "error": "x"})),
    # unparseable value -> NULL (P2)
    ("nan", _body([{"metric": {}, "values": [[1704067200, "abc"], [1704067320, "NaN"]]}])),
]


def test_parse_response_decode(spark):
    df = spark.createDataFrame(FIX, ["query_alias", "body"])
    out = parse_response_df(df).orderBy("metric", "ts").collect()
    by_metric = {}
    for r in out:
        by_metric.setdefault(r.metric, []).append(r)
    assert [r.value for r in by_metric["cpu"]] == [1.5, 2.5]
    assert by_metric["cpu"][0].ts.isoformat() == "2024-01-01T00:00:00"
    # first-series only
    assert [r.value for r in by_metric["mem"]] == [10.0]
    # empty + error responses produce no rows
    assert "empty" not in by_metric and "bad" not in by_metric
    # coercion to NULL, rows kept ("NaN" parses to float NaN)
    nan_vals = [r.value for r in by_metric["nan"]]
    assert nan_vals[0] is None


def test_parse_multi_series_kept_when_disabled(spark):
    df = spark.createDataFrame(FIX, ["query_alias", "body"])
    out = parse_response_df(df, first_series_only=False)
    assert out.filter("metric = 'mem'").count() == 2


def _three_points(query, start, end, step):
    values = [[start + i * step, str(i * 1.0)] for i in range(3)]
    return _body([{"metric": {}, "values": values}])


class _StubProm(BaseHTTPRequestHandler):
    """Answers each request with ``answer(query, start, end, step)``, a
    JSON body, and logs ``(query, start, end)`` in ``hits``."""

    hits: list[tuple[str, int, int]] = []
    answer = staticmethod(_three_points)

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        query = q["query"][0]
        start, end = int(float(q["start"][0])), int(float(q["end"][0]))
        type(self).hits.append((query, start, end))
        body = type(self).answer(query, start, end, int(q["step"][0])).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def stub_server():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _StubProm)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_datasource_partitions_and_cache(spark, stub_server, tmp_path):
    spark.dataSource.register(PrometheusDataSource)
    reader = (
        spark.read.format("prometheus")
        .option("url", stub_server)
        .option("queries_json", json.dumps({"cpu": "rate(cpu[2m])", "mem": "mem_bytes"}))
        .option("start", "2024-01-01T00:00:00Z")
        .option("end", "2024-01-01T04:00:00Z")
        .option("step_seconds", "120")
        .option("chunk_hours", "1")
        .option("cache_dir", str(tmp_path / "cache"))
    )
    df = reader.load()
    assert df.columns == ["metric", "series_idx", "ts", "value"]
    rows = df.collect()
    # 2 queries x 4 one-hour chunks x 3 points
    assert len(rows) == 24
    assert {r.metric for r in rows} == {"cpu", "mem"}
    first_hits = len(_StubProm.hits)
    assert first_hits == 8  # one HTTP call per (query, chunk)
    # second read: all chunks served from the deterministic cache (S5/O1)
    assert reader.load().count() == 24
    assert len(_StubProm.hits) == first_hits


def test_cmd_collect_ships_the_package(spark, stub_server, tmp_path, monkeypatch):
    """The source's reader runs on Python workers, which import it by
    module path; cmd_collect must ship the package before it reads, or a
    run from outside the repository root fails on the worker."""
    from prometheus_anomaly_detection_lstm_spark import shipping
    from prometheus_anomaly_detection_lstm_spark.cli import cmd_collect
    from prometheus_anomaly_detection_lstm_spark.config import EngineConfig

    monkeypatch.setattr(shipping, "_shipped", set())
    cfg = EngineConfig(
        prometheus_url=stub_server,
        artifacts_dir=str(tmp_path / "artifacts"),
        queries={"cpu": "rate(cpu[2m])", "mem": "mem_bytes"},
        collection_periods_iso=[
            {"start": "2024-01-01T00:00:00Z", "end": "2024-01-01T02:00:00Z"}
        ],
        step_seconds=120,
    )
    cmd_collect(cfg)
    assert id(spark.sparkContext) in shipping._shipped
    wide = spark.read.parquet(f"{cfg.artifacts_dir}/{cfg.output_filename}")
    # 2 one-hour chunks x 3 points per query, on a shared grid
    assert wide.count() == 6
    assert {"cpu", "mem", "day_of_week", "hour_of_day"} <= set(wide.columns)


def test_stream_reader_offsets_are_step_aligned():
    """Offset arithmetic without Spark: initial/latest offsets sit on
    the step grid, the end cap bounds the stream, and an empty range
    plans no partitions."""
    from prometheus_anomaly_detection_lstm_spark.sources.prometheus import (
        PrometheusStreamReader,
    )

    r = PrometheusStreamReader(
        {
            "queries_json": json.dumps({"m1": "q1", "m2": "q2"}),
            "start": "2024-01-01T00:00:00Z",
            "end": "2024-01-01T00:10:00Z",
            "step_seconds": "120",
        }
    )
    start = r.initialOffset()
    assert start == {"ts": 1704067200}
    latest = r.latestOffset()
    # capped at end, exclusive-end one step past the last grid point
    assert latest == {"ts": 1704067200 + 600 + 120}
    parts = r.partitions(start, latest)
    # one chunk (range << chunk_hours) carrying both queries
    assert len(parts) == 1
    assert parts[0].queries == (("m1", "q1"), ("m2", "q2"))
    lo, hi = parts[0].start, parts[0].end
    assert lo == 1704067200 and hi == 1704067200 + 600
    assert r.partitions(latest, latest) == []


def test_streaming_source_drives_detector(spark, stub_server, tmp_path):
    """spark.readStream.format('prometheus') -> foreachBatch detector:
    the sugar surface feeds the same run_detector_on_batch cycle body
    (verdict r2 task 8)."""
    from pyspark.sql import functions as F

    from prometheus_anomaly_detection_lstm_spark.streaming.detector import (
        DetectorConfig,
        run_detector_on_batch,
    )
    from prometheus_anomaly_detection_lstm_spark.streaming.exporter import (
        DetectorMetrics,
    )

    spark.dataSource.register(PrometheusDataSource)
    cfg = DetectorConfig(
        metrics=["m1", "m2"], sequence_length=2, threshold=1e9
    )
    sinks = DetectorMetrics()
    outcomes: list[dict] = []

    stream = (
        spark.readStream.format("prometheus")
        .option("url", stub_server)
        .option("queries_json", json.dumps({"m1": "q1", "m2": "q2"}))
        .option("start", "2024-01-01T00:00:00Z")
        .option("end", "2024-01-01T00:10:00Z")
        .option("step_seconds", "120")
        .load()
    )

    def on_batch(df, epoch_id):
        outcomes.extend(
            run_detector_on_batch(
                df.withColumn("cycle_id", F.lit(int(epoch_id))), cfg, sinks
            )
        )

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    done = [o for o in outcomes if o["outcome"] is not None]
    assert done, outcomes
    assert done[0]["outcome"]["mse"] >= 0.0
    assert sinks.latest_mse.value() == pytest.approx(done[-1]["outcome"]["mse"])


@pytest.fixture
def scripted(stub_server, monkeypatch):
    """The stub with a fresh hit log; a test sets ``_StubProm.answer``."""
    monkeypatch.setattr(_StubProm, "hits", [])
    return stub_server


def _grid_body(query, start, end, step):
    """One series with a value per grid point of ``[start, end]``."""
    values = [[t, str(t % 1000 + len(query))] for t in range(start, end + 1, step)]
    return _body([{"metric": {}, "values": values}])


def _tasks_in_group(sc, group) -> int:
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )


def test_one_source_task_per_chunk(spark, scripted, tmp_path):
    """The time chunk is the only unit of scan parallelism: a batch read
    of 2 queries x 4 one-hour chunks runs 4 source tasks (not 8) and
    still makes one HTTP call per (query, chunk); a stream batch inside
    one chunk runs 1 source task for both queries."""
    spark.dataSource.register(PrometheusDataSource)
    sc = spark.sparkContext
    queries = json.dumps({"cpu": "rate(cpu[2m])", "mem": "mem_bytes"})
    group = f"prom-batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = (
            spark.read.format("prometheus")
            .option("url", scripted)
            .option("queries_json", queries)
            .option("start", "2024-01-01T00:00:00Z")
            .option("end", "2024-01-01T04:00:00Z")
            .option("step_seconds", "120")
            .option("chunk_hours", "1")
            .load()
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 2 * 4 * 3
    assert _tasks_in_group(sc, group) == 4
    assert len(_StubProm.hits) == 8
    assert len(set(_StubProm.hits)) == 8

    seen: list[int] = []
    q = (
        spark.readStream.format("prometheus")
        .option("url", scripted)
        .option("queries_json", queries)
        .option("start", "2024-01-01T00:00:00Z")
        .option("end", "2024-01-01T00:10:00Z")
        .option("step_seconds", "120")
        .load()
        .writeStream.foreachBatch(lambda df, eid: seen.append(len(df.collect())))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert seen == [2 * 3]
    # micro-batch jobs run under the query's run id as job group
    assert _tasks_in_group(sc, str(q.runId)) == 1


def _stream_run(spark, url, end, ckpt, sink):
    q = (
        spark.readStream.format("prometheus")
        .option("url", url)
        .option("queries_json", json.dumps({"m1": "q1", "m2": "q2"}))
        .option("start", "2024-01-01T00:00:00Z")
        .option("end", end)
        .option("step_seconds", "120")
        .load()
        .writeStream.foreachBatch(
            lambda df, eid: sink.extend((r.metric, r.ts) for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    except StreamingQueryException:
        pass  # returned below
    return q.exception()


def _commits(ckpt):
    return sorted(f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith("."))


def test_stream_error_payload_fails_the_batch(spark, scripted, tmp_path, monkeypatch):
    """An error payload fails the micro-batch before its offset is
    committed; once Prometheus recovers, a restart on the same checkpoint
    re-fetches that range, so no grid point is skipped."""
    t0 = 1704067200
    failing = {"on": True}

    def answer(query, start, end, step):
        if failing["on"] and query == "q2" and start > t0 + 600:
            return json.dumps(
                {"status": "error", "errorType": "timeout", "error": "query timed out"}
            )
        return _grid_body(query, start, end, step)

    monkeypatch.setattr(_StubProm, "answer", staticmethod(answer))
    spark.dataSource.register(PrometheusDataSource)
    ckpt = str(tmp_path / "ckpt")
    sink: list = []

    assert _stream_run(spark, scripted, "2024-01-01T00:10:00Z", ckpt, sink) is None
    assert len(sink) == 2 * 6
    assert _commits(ckpt) == ["0"]

    err = _stream_run(spark, scripted, "2024-01-01T00:20:00Z", ckpt, sink)
    assert err is not None and "'m2' failed over" in str(err), err
    assert "query timed out" in str(err)
    # the failed batch delivered nothing and committed nothing
    assert len(sink) == 2 * 6
    assert _commits(ckpt) == ["0"]

    failing["on"] = False
    assert _stream_run(spark, scripted, "2024-01-01T00:20:00Z", ckpt, sink) is None
    got = sorted((m, int(ts.replace(tzinfo=timezone.utc).timestamp())) for m, ts in sink)
    want = sorted((m, t) for m in ("m1", "m2") for t in range(t0, t0 + 1200 + 1, 120))
    assert got == want


def _norm(rows):
    """Order-free row multiset; NaN made comparable."""
    return sorted(
        (m, i, ts, "nan" if v is not None and math.isnan(v) else v)
        for m, i, ts, v in rows
    )


def test_chunk_rows_match_per_query_plan_and_old_cache(spark, scripted, tmp_path, monkeypatch):
    """One chunk mixing success, two-series, empty, error and
    unparseable-value payloads returns, for either first-series rule, the
    rows a per-(query, chunk) read of each payload returns; only the
    non-empty successes are cached, under the md5(url|promql|start|end|
    step) key, and a file written under that key is served without HTTP."""
    bodies = dict(FIX)
    monkeypatch.setattr(
        _StubProm, "answer", staticmethod(lambda query, *_: bodies[query])
    )
    spark.dataSource.register(PrometheusDataSource)
    cache = tmp_path / "cache"
    start, end, step = 1704067200, 1704067800, 120

    def read(queries, first_series_only):
        return (
            spark.read.format("prometheus")
            .option("url", scripted)
            .option("queries_json", json.dumps(queries))
            .option("start", "2024-01-01T00:00:00Z")
            .option("end", "2024-01-01T00:10:00Z")
            .option("step_seconds", str(step))
            .option("cache_dir", str(cache))
            .option("first_series_only", str(first_series_only).lower())
            .load()
        )

    def key(promql):
        return hashlib.md5(f"{scripted}|{promql}|{start}|{end}|{step}".encode()).hexdigest()

    queries = {alias: alias for alias in bodies}
    counts = {True: 5, False: 6}  # cpu 2 + mem 1|2 + nan 2
    for fso in (True, False):
        rows = read(queries, fso).collect()
        per_query = [
            r for alias, body in FIX
            for r in _rows_from_payload(json.loads(body), alias, fso)
        ]
        assert len(rows) == counts[fso]
        assert _norm(tuple(r) for r in rows) == _norm(per_query)
    # first read: 5 calls; second: only the uncached empty + error again
    assert len(_StubProm.hits) == 5 + 2
    assert sorted(os.listdir(cache)) == sorted(
        f"{key(q)}.json" for q in ("cpu", "mem", "nan")
    )

    cached = json.loads(_body([{"metric": {}, "values": [[start, "7"]]}]))
    with open(cache / f"{key('up')}.json", "w") as fh:
        json.dump(cached, fh)
    before = len(_StubProm.hits)
    rows = read({"legacy": "up"}, True).collect()
    assert len(_StubProm.hits) == before
    assert [(r.metric, r.value) for r in rows] == [("legacy", 7.0)]
