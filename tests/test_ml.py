"""ML pipeline tests: split semantics, distributed inference parity,
training determinism, threshold fitting."""

from __future__ import annotations

import datetime

import numpy as np
import pytest

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.ml.autoencoder import (
    AffineAutoencoder,
    build_lstm_autoencoder,
    load_model,
    reconstruction_errors,
    save_model,
)
from prometheus_anomaly_detection_lstm_spark.ml.infer import score_windows
from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import init_weights
from prometheus_anomaly_detection_lstm_spark.ml.train import (
    collect_windows,
    fit_early_stopping,
    fit_threshold,
    train_linear_autoencoder,
    train_val_split,
)
from prometheus_anomaly_detection_lstm_spark.operators.windows import (
    sequence_windows_scalable,
)


@pytest.fixture(scope="module")
def windows_df(spark):
    ts0 = datetime.datetime(2024, 1, 1)
    rows = [
        (ts0 + datetime.timedelta(minutes=30 * i), (i % 10) / 10.0, ((i * 3) % 7) / 7.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["ts", "f1", "f2"])
    return sequence_windows_scalable(df, ["f1", "f2"], 10)


def test_split_ratios_and_edge_cases(windows_df):
    n = windows_df.count()
    train, val = train_val_split(windows_df, 0.8, seed=42)
    nt, nv = train.count(), val.count()
    assert nt + nv == n
    assert 0.6 * n < nt < 0.95 * n  # Bernoulli split, distributional check
    # edge cases (train_autoencoder.py:171-186)
    t_all, v_none = train_val_split(windows_df, 1.5)
    assert t_all.count() == n and v_none.count() == 0
    t_none, v_all = train_val_split(windows_df, -1)
    assert t_none.count() == 0 and v_all.count() == n


def test_split_deterministic_same_seed(windows_df):
    a = {r.window_id for r in train_val_split(windows_df, 0.8, 42)[0].collect()}
    b = {r.window_id for r in train_val_split(windows_df, 0.8, 42)[0].collect()}
    assert a == b


def test_distributed_scoring_matches_driver(windows_df):
    """mapInPandas scoring == driver-side NumPy scoring (M5 parity)."""
    scored = {
        r.window_id: r for r in score_windows(windows_df, AffineAutoencoder).collect()
    }
    x = collect_windows(windows_df)
    err = x - np.clip(0.9 * x + 0.02, 0.0, 1.0)
    expected_mse = (err**2).mean(axis=(1, 2))
    expected_feat = (err**2).mean(axis=1)
    ids = sorted(scored)
    got_mse = np.array([scored[i].mse for i in ids])
    np.testing.assert_allclose(got_mse, expected_mse, rtol=1e-12)
    got_feat = np.array([scored[i].feature_mse for i in ids])
    np.testing.assert_allclose(got_feat, expected_feat, rtol=1e-12)


def test_training_is_deterministic(windows_df):
    x = collect_windows(windows_df)
    m1, h1 = train_linear_autoencoder(x, epochs=30)
    m2, h2 = train_linear_autoencoder(x, epochs=30)
    assert h1 == h2
    np.testing.assert_array_equal(m1.a, m2.a)
    # training reduces loss and early-stopping restores the best epoch
    assert h1[-1] <= h1[0]
    assert min(h1) == pytest.approx(
        float(np.mean((x * m1.a + m1.b - x) ** 2))
    )


def test_model_roundtrip(tmp_path, windows_df):
    """A trained affine model comes back from its weights file (keys
    ``a``, ``b``) as an affine model with equal errors, bit for bit."""
    x = collect_windows(windows_df)
    model, _ = train_linear_autoencoder(x, epochs=5)
    p = str(tmp_path / "w.npz")
    save_model(p, model)
    with np.load(p) as npz:
        assert sorted(npz.files) == ["a", "b"]
    loaded = load_model(p)
    assert isinstance(loaded, AffineAutoencoder)
    for got, want in zip(
        reconstruction_errors(loaded, x), reconstruction_errors(model, x)
    ):
        np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize(
    "arrays",
    [
        {"a": np.ones(2)},  # an affine file missing ``b``
        {k: v for k, v in init_weights(3).items() if k != "enc1_W"},
        {"weights": np.ones(3)},  # a foreign file
    ],
    ids=["truncated_affine", "truncated_lstm", "foreign"],
)
def test_load_model_rejects_unknown_layouts(tmp_path, arrays):
    """Any other key set fails on the driver, naming what it found and
    both layouts it accepts."""
    p = str(tmp_path / "w.npz")
    np.savez(p, **arrays)
    with pytest.raises(ValueError, match=r"holds keys \[") as info:
        load_model(p)
    msg = str(info.value)
    assert str(sorted(arrays)) in msg
    assert "['a', 'b'] (affine)" in msg and "'enc1_W'" in msg and "(LSTM)" in msg


def test_fit_threshold_percentile(windows_df):
    scored = score_windows(windows_df, AffineAutoencoder)
    thr = fit_threshold(scored.select("mse"), 0.95)
    n = scored.count()
    above = scored.filter(F.col("mse") > thr).count()
    assert above <= max(1, int(0.06 * n))


def test_keras_gate_raises_without_tf():
    with pytest.raises(NotImplementedError):
        build_lstm_autoencoder(20, 18)


def _scripted(losses):
    """A step that returns a fresh params array per epoch and the next
    scripted loss; ``made`` records every params object it returned."""
    made = []

    def step(params):
        made.append(np.array([float(len(made) + 1)]))
        return made[-1], losses[len(made) - 1]

    return step, made


def test_fit_early_stopping_policy():
    init = np.zeros(1)
    # patience 3: epochs 3-5 do not beat epoch 2, so epoch 5 stops and
    # epoch 2's params object comes back; epoch 6's loss is never seen
    step, made = _scripted([3.0, 2.0, 2.5, 2.4, 2.3, 1.0])
    best, hist = fit_early_stopping(step, init, epochs=10, patience=3)
    assert hist == [3.0, 2.0, 2.5, 2.4, 2.3]
    assert best is made[1]
    # a gain under 1e-12 is stale; a larger one improves
    step, made = _scripted([1.0, 1.0 - 5e-13, 1.0 - 2e-12])
    best, hist = fit_early_stopping(step, init, epochs=3, patience=2)
    assert len(hist) == 3 and best is made[2]
    step, made = _scripted([1.0, 1.0 - 5e-13, 0.5])
    best, hist = fit_early_stopping(step, init, epochs=3, patience=1)
    assert len(hist) == 2 and best is made[0]
    # no epoch at all, or none that improves: the initial params
    best, hist = fit_early_stopping(step, init, epochs=0, patience=1)
    assert best is init and hist == []
    step, _ = _scripted([np.inf, np.nan])
    best, hist = fit_early_stopping(step, init, epochs=2, patience=5)
    assert best is init and len(hist) == 2
