"""One detector core behind both callers: the stateless cycle
(``detector.run_detection_cycle``) and the stateful operator's state
function (``stateful._update``) align and score the same samples alike.

No Spark.  Seeded windows of at most 2L timestamps (so the stateful
trim keeps every one) with duplicate (ts, metric) rows, present-but-NaN
cells, an unconfigured metric, a configured metric that never arrives
and short windows, under metric lists in any order."""

from __future__ import annotations

import numpy as np
import pandas as pd

from prometheus_anomaly_detection_lstm_spark.ml.autoencoder import STUB
from prometheus_anomaly_detection_lstm_spark.streaming import stateful
from prometheus_anomaly_detection_lstm_spark.streaming.detector import (
    DetectorConfig,
    run_detection_cycle,
)
from prometheus_anomaly_detection_lstm_spark.streaming.exporter import DetectorMetrics
from tests.test_stateful_streaming import FakeState

OUTSIDE = "zz_outside"


class Recorder:
    """The stub model, keeping the window it was handed."""

    def predict(self, x):
        self.seen = x.copy()
        return STUB.predict(x)


def _window(seed):
    rng = np.random.default_rng(seed)
    L = int(rng.integers(2, 9))
    metrics = [f"m{i}" for i in rng.permutation(int(rng.integers(1, 5)))]
    sent = metrics[1:] if len(metrics) > 1 and rng.random() < 0.15 else metrics
    start = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=int(rng.integers(0, 24 * 14)))
    n_ts = int(rng.integers(1, 2 * L + 1))
    secs = np.sort(rng.choice(4 * 3600, n_ts, replace=False))
    rows = []
    for s in secs:
        for m in sent + [OUTSIDE]:
            if rng.random() < (0.6 if m == OUTSIDE else 0.1):
                continue
            for _ in range(1 + int(rng.random() < 0.15)):
                v = np.nan if rng.random() < 0.08 else float(rng.random())
                rows.append((start + pd.Timedelta(seconds=int(s)), m, v))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    pdf = pd.DataFrame(rows, columns=["ts", "metric", "value"])
    return L, metrics, pdf


def _cases(metrics, pdf):
    cells = list(zip(pdf["ts"], pdf["metric"]))
    found = set()
    if len(set(cells)) < len(cells):
        found.add("duplicate")
    if pdf["value"].isna().any():
        found.add("nan_cell")
    if (pdf["metric"] == OUTSIDE).any():
        found.add("outside_metric")
    if set(metrics) - set(pdf["metric"]):
        found.add("missing_metric")
    return found


def test_stateless_cycle_scores_like_the_ring():
    """Per seed: the model's metric columns bit-equal the ring's scored
    tail, the calendar columns are the tail's pandas weekday and hour,
    ``n_points`` equals ``window_points``, and both callers skip the same
    windows."""
    cases = {}
    for seed in range(300):
        L, metrics, pdf = _window(seed)
        state = FakeState()
        (frame,) = stateful._update(
            ("d",), iter([pdf.assign(detector_id="d")]), state, sorted(metrics), L, 0.0013
        )
        _, window_end, mse, _, n_points = frame.iloc[0]

        cfg = DetectorConfig(metrics=metrics, sequence_length=L, threshold=0.0013, model=Recorder())
        sinks = DetectorMetrics()
        out = run_detection_cycle(pdf, cfg, sinks)

        found = _cases(metrics, pdf)
        if "missing_metric" in found:
            assert out is None and n_points == 0, seed
            assert sinks.window_points.value() is None, seed
        else:
            assert sinks.window_points.value() == n_points, seed
        assert (out is None) == np.isnan(mse), seed
        if out is None:
            found.add("missing_metric" if "missing_metric" in found else "short_window")
        else:
            found.add("scored")
            assert out["n_points"] == n_points, seed
            names, ts_us, value, _ = state.get
            val = np.frombuffer(value, np.float64).reshape(len(ts_us), len(names))
            rows = np.flatnonzero(~np.isnan(val).any(axis=1))[-L:]
            x = cfg.model.seen[0]
            M = len(metrics)
            assert x.shape == (L, M + 2), seed
            assert np.ascontiguousarray(x[:, :M]).tobytes() == val[rows].tobytes(), seed
            when = pd.to_datetime(np.asarray(ts_us)[rows], unit="us")
            assert when[-1] == window_end, seed
            np.testing.assert_array_equal(x[:, M], when.dayofweek)
            np.testing.assert_array_equal(x[:, M + 1], when.hour)
        assert cfg.features == sorted(metrics) + ["day_of_week", "hour_of_day"]
        for c in found:
            cases[c] = cases.get(c, 0) + 1
    assert set(cases) == {
        "duplicate", "nan_cell", "outside_metric", "missing_metric", "short_window", "scored",
    }, cases
    assert min(cases.values()) >= 10, cases
