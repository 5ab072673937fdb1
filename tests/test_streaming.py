"""Streaming detector + exporter tests (SURVEY §5.4, FIXTURES F7).

Drives the foreachBatch detector with replayed fixture cycles and
asserts gauge values, counter monotonicity, and every guard path.
"""

from __future__ import annotations

import urllib.request

import numpy as np
import pandas as pd
import pytest

from prometheus_anomaly_detection_lstm_spark.streaming.detector import (
    DetectorConfig,
    run_detection_cycle,
    run_detector_on_batch,
)
from prometheus_anomaly_detection_lstm_spark.streaming.exporter import (
    DetectorMetrics,
    start_http_server,
)

METRICS = ["m1", "m2"]
L = 5


def _cycle(cycle_id: int, n: int, metrics=METRICS, value=0.5, nan_at=None):
    ts = pd.date_range("2024-01-01", periods=n, freq="2min")
    rows = []
    for m in metrics:
        for i, t in enumerate(ts):
            v = np.nan if nan_at is not None and i in nan_at and m == metrics[0] else value
            rows.append({"cycle_id": cycle_id, "ts": t, "metric": m, "value": v})
    return pd.DataFrame(rows)


@pytest.fixture()
def cfg():
    return DetectorConfig(metrics=METRICS, sequence_length=L, threshold=0.001)


def test_clean_cycle_sets_gauges(cfg):
    sinks = DetectorMetrics()
    out = run_detection_cycle(_cycle(0, L + 2), cfg, sinks)
    assert out is not None
    assert sinks.latest_mse.value() == pytest.approx(out["mse"])
    assert sinks.window_points.value() == L + 2
    assert sinks.last_success.value() is not None
    # per-feature gauges carry the feature_name label
    assert sinks.feature_mse.value(feature_name="m1") is not None
    assert sinks.feature_mse.value(feature_name="day_of_week") is not None


def test_cycle_scores_with_real_lstm(cfg):
    """The realtime detector accepts any .predict scorer — the NumPy
    LSTM runs through the identical cycle path as the stub (M3+T2)."""
    from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import (
        LSTMAutoencoder,
        init_weights,
    )

    cfg.model = LSTMAutoencoder(init_weights(len(cfg.features)))
    sinks = DetectorMetrics()
    out = run_detection_cycle(_cycle(0, L + 2), cfg, sinks)
    assert out is not None and out["mse"] >= 0.0
    assert sinks.latest_mse.value() == pytest.approx(out["mse"])
    # deterministic: a rerun with freshly-built frozen weights agrees
    cfg.model = LSTMAutoencoder(init_weights(len(cfg.features)))
    again = run_detection_cycle(_cycle(0, L + 2), cfg, DetectorMetrics())
    assert again["mse"] == pytest.approx(out["mse"], abs=0)


def test_missing_metric_skips_cycle(cfg):
    sinks = DetectorMetrics()
    out = run_detection_cycle(
        _cycle(0, L + 2, metrics=["m1"]), cfg, sinks
    )  # m2 absent -> abort (realtime_detector.py:176-190)
    assert out is None
    assert sinks.latest_mse.value() is None


def test_short_window_skips_but_reports_points(cfg):
    sinks = DetectorMetrics()
    out = run_detection_cycle(_cycle(0, L - 2), cfg, sinks)
    assert out is None
    assert sinks.window_points.value() == L - 2  # :211-215


def test_all_nan_metric_ends_on_short_window(cfg):
    """A configured metric whose window samples are all NaN aligns no
    row: the cycle skips with window_points 0 instead of raising."""
    sinks = DetectorMetrics()
    out = run_detection_cycle(
        _cycle(0, L + 2, nan_at=set(range(L + 2))), cfg, sinks
    )
    assert out is None
    assert sinks.window_points.value() == 0


def test_nan_rows_drop_out_and_window_scores(cfg):
    """Rows where a configured metric is NaN are not aligned: two of
    L + 2 drop out, and the cycle scores the L rows left."""
    sinks = DetectorMetrics()
    out = run_detection_cycle(_cycle(0, L + 2, nan_at={0, 3}), cfg, sinks)
    assert out is not None
    assert sinks.window_points.value() == L


def test_anomaly_branch_increments_counter(cfg):
    sinks = DetectorMetrics()
    assert sinks.total_anomalies.value() == 0.0  # pre-initialized (:280-285)
    # large values scale to big reconstruction error under the stub
    run_detection_cycle(_cycle(0, L + 2, value=1e9), cfg, sinks)
    assert sinks.is_anomaly.value() == 1.0
    assert sinks.total_anomalies.value() == 1.0
    run_detection_cycle(_cycle(1, L + 2, value=1e9), cfg, sinks)
    assert sinks.total_anomalies.value() == 2.0  # monotone


def test_scoring_failure_sets_sentinels(cfg):
    class Broken:
        def predict(self, x):
            raise RuntimeError("boom")

    sinks = DetectorMetrics()
    cfg.model = Broken()
    out = run_detection_cycle(_cycle(0, L + 2), cfg, sinks)
    assert out is None
    assert sinks.latest_mse.value() == -1.0  # M6 sentinel (:339-348)
    assert sinks.is_anomaly.value() == 0.0


def test_foreachbatch_runs_cycles_from_spark(spark, cfg):
    sinks = DetectorMetrics()
    pdf = pd.concat([_cycle(0, L + 2), _cycle(1, L - 3)])
    batch = spark.createDataFrame(pdf)
    outcomes = run_detector_on_batch(batch, cfg, sinks)
    assert [o["cycle_id"] for o in outcomes] == [0, 1]
    assert outcomes[0]["outcome"] is not None
    assert outcomes[1]["outcome"] is None  # short window skipped


def test_streaming_query_end_to_end(spark, cfg, tmp_path):
    """availableNow file-source replay through a real streaming query."""
    src = tmp_path / "cycles"
    pd_all = pd.concat([_cycle(0, L + 2), _cycle(1, L + 2, value=1e9)])
    spark.createDataFrame(pd_all).write.mode("overwrite").parquet(str(src))
    sinks = DetectorMetrics()
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: run_detector_on_batch(df, cfg, sinks))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sinks.total_anomalies.value() >= 1.0
    assert sinks.last_success.value() is not None


def test_exporter_http_exposition():
    sinks = DetectorMetrics()
    sinks.latest_mse.set(0.0042)
    sinks.feature_mse.set(0.1, feature_name="m1")
    server = start_http_server(sinks, port=18901)
    try:
        body = urllib.request.urlopen(
            "http://127.0.0.1:18901/metrics", timeout=5
        ).read().decode()
    finally:
        server.shutdown()
    assert "anomaly_detector_latest_reconstruction_error_mse 0.0042" in body
    assert (
        'anomaly_detector_feature_reconstruction_error_mse{feature_name="m1"} 0.1'
        in body
    )
    assert "# TYPE anomaly_detector_total_anomalies_count counter" in body


def test_exposition_text_format_grammar():
    """Every line must satisfy the Prometheus text-format 0.0.4 grammar
    a strict scraper enforces: HELP/TYPE once per metric, TYPE before
    samples, legal metric/label names, float-parsable values."""
    import re

    sinks = DetectorMetrics()
    sinks.latest_mse.set(0.0042)
    sinks.is_anomaly.set(1)
    sinks.feature_mse.set(0.1, feature_name="m1")
    sinks.feature_mse.set(0.2, feature_name="m2")
    sinks.last_success.set_to_current_time()
    sinks.window_points.set(20)
    sinks.total_anomalies.inc()
    body = sinks.exposition()
    assert body.endswith("\n")  # final newline required by the format

    name_re = r"[a-zA-Z_:][a-zA-Z0-9_:]*"
    sample_re = re.compile(
        rf"^({name_re})"
        rf"(?:\{{([a-zA-Z_][a-zA-Z0-9_]*=\"[^\"]*\""
        rf"(?:,[a-zA-Z_][a-zA-Z0-9_]*=\"[^\"]*\")*)\}})?"
        r" (-?[0-9.eE+-]+|NaN|[+-]Inf)(?: [0-9]+)?$"
    )
    helped, typed, sampled = set(), set(), set()
    for line in body.splitlines():
        if line.startswith("# HELP "):
            m = re.match(rf"^# HELP ({name_re}) .+$", line)
            assert m, f"bad HELP line: {line!r}"
            assert m.group(1) not in helped, f"duplicate HELP: {line!r}"
            helped.add(m.group(1))
        elif line.startswith("# TYPE "):
            m = re.match(
                rf"^# TYPE ({name_re}) "
                r"(counter|gauge|histogram|summary|untyped)$",
                line,
            )
            assert m, f"bad TYPE line: {line!r}"
            name = m.group(1)
            assert name not in typed, f"duplicate TYPE: {line!r}"
            assert name not in sampled, f"TYPE after samples: {line!r}"
            typed.add(name)
        else:
            m = sample_re.match(line)
            assert m, f"bad sample line: {line!r}"
            float(m.group(3))  # value parses
            sampled.add(m.group(1))
    # every exported sample belongs to a declared metric family
    assert sampled <= typed
    assert len(typed) == 6  # the reference's six metrics
