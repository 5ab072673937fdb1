"""Training driver (SURVEY §2.7-M2/M3/M4, §3.3).

Spark's role is data prep: the distributed pipeline produces the
windows DataFrame; training consumes it.  At the reference's scale
(~8k windows of 20x18 doubles ≈ 23 MB, SURVEY §6) collecting windows
to the driver is the right call — MLlib has no LSTM, and shipping a
23 MB tensor is cheaper than any distributed-training machinery.

* :func:`train_val_split` — M2: ``randomSplit([0.8, 0.2], seed=42)``.
  Spark's split is per-row Bernoulli, not sklearn's exact permutation
  (train_autoencoder.py:188-190): row identity differs, distribution
  properties are tested instead (SURVEY §5.5).
* :func:`collect_windows` — windows DataFrame -> (n, L, F) ndarray.
* :func:`fit_early_stopping` — M4, the one training loop both
  trainers run (:func:`train_linear_autoencoder` here and
  ``ml/lstm_train.train_lstm_autoencoder``): epochs, early stop,
  best-restore.
* :func:`train_linear_autoencoder` — fits the per-feature
  ``ml/autoencoder.AffineAutoencoder`` by full-batch gradient descent
  from a fixed init (per-feature least squares of x against itself
  through a bottleneck is degenerate in closed form), reproducible to
  the last bit on any platform; a deterministic stand-in for the Keras
  LSTM.
* :func:`fit_threshold` — A11: percentile of training-set errors, the
  practice config.yaml:113-118 documents but never automates.  The CLI
  ``train`` stage takes the same percentile with ``np.percentile``
  instead, from the validation tensor it already holds.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .autoencoder import AffineAutoencoder, save_model


def train_val_split(
    windows: DataFrame, train_ratio: float = 0.8, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """M2 with the reference's edge-case handling
    (train_autoencoder.py:171-186): ratio <= 0 -> all validation,
    ratio >= 1 -> all training."""
    if train_ratio >= 1.0:
        return windows, windows.limit(0)
    if train_ratio <= 0.0:
        return windows.limit(0), windows
    train, val = windows.randomSplit([train_ratio, 1.0 - train_ratio], seed)
    return train, val


def collect_windows(windows: DataFrame) -> np.ndarray:
    """windows DF -> (n, L, F) float64 tensor, ordered by window_id.

    The rows are sorted in Python after the collect: a Spark
    ``orderBy`` would add a range-partition sampling job and a shuffle
    for a frame that is collected anyway.
    """
    rows = windows.select("window_id", "features").collect()
    if not rows:
        return np.empty((0, 0, 0))
    rows.sort(key=lambda r: r.window_id)
    return np.array([r.features for r in rows], dtype="float64")


def fit_early_stopping(step, params, epochs: int, patience: int):
    """M4, the one training loop: Keras ``fit`` with
    ``EarlyStopping(patience, restore_best_weights)``
    (train_autoencoder.py:196-237).

    ``step(params) -> (new_params, val_loss)`` runs one epoch and must
    return new arrays, never mutate ``params``: the best epoch's params
    are kept without copies.  An epoch improves when its loss beats the
    best by more than 1e-12; ``patience`` stale epochs in a row stop.
    Returns (best params, or ``params`` if none improved, history).
    """
    best, best_loss = params, np.inf
    history: list[float] = []
    stale = 0
    for _ in range(epochs):
        params, loss = step(params)
        history.append(loss)
        if loss < best_loss - 1e-12:
            best, best_loss, stale = params, loss, 0
        else:
            stale += 1
            if stale >= patience:
                break
    return best, history


def train_linear_autoencoder(
    x: np.ndarray,
    epochs: int = 50,
    lr: float = 0.1,
    patience: int = 10,
    val: np.ndarray | None = None,
) -> tuple[AffineAutoencoder, list[float]]:
    """Full-batch GD on mse(x, a·x+b) under :func:`fit_early_stopping`;
    the recorded loss is the post-update validation loss."""
    n_features = x.shape[-1]
    val_x = x if val is None or not len(val) else val

    def step(params):
        a, b = params
        err = x * a + b - x
        a = a - lr * (2.0 * (err * x).mean(axis=(0, 1)))
        b = b - lr * (2.0 * err.mean(axis=(0, 1)))
        val_err = val_x * a + b - val_x
        return (a, b), float((val_err * val_err).mean())

    init = (np.full(n_features, 0.5), np.zeros(n_features))
    (a, b), history = fit_early_stopping(step, init, epochs, patience)
    return AffineAutoencoder(a=a, b=b), history


def fit_threshold(mse_df: DataFrame, percentile: float = 0.95) -> float:
    """A11: threshold = percentile of (validation) window errors."""
    return float(
        mse_df.agg(F.percentile("mse", percentile).alias("p")).first()["p"]
    )


def save_artifacts(
    out_dir: str,
    model,
    history: list[float],
    threshold: float,
) -> None:
    """S10/S14 equivalents: weights npz (``ml/autoencoder.save_model``)
    + meta json (history, threshold).

    The scaler artifact (S9) is the preprocess stage's
    ``scaler_params.parquet``; training writes no second copy.
    """
    os.makedirs(out_dir, exist_ok=True)
    save_model(os.path.join(out_dir, "autoencoder_weights.npz"), model)
    with open(os.path.join(out_dir, "training_meta.json"), "w") as fh:
        json.dump({"history": history, "threshold": threshold}, fh)

