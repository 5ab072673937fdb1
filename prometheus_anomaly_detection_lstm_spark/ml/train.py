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
* :func:`train_linear_autoencoder` — a deterministic NumPy autoencoder
  (full-batch gradient descent, fixed init) standing in for the Keras
  LSTM which needs TensorFlow (absent here; build_lstm_autoencoder
  raises with guidance).  Persists weights + training history.
* :func:`fit_threshold` — A11: percentile of training-set errors, the
  practice config.yaml:113-118 documents but never automates.  The CLI
  ``train`` stage takes the same percentile with ``np.percentile``
  instead, from the validation tensor it already holds.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


@dataclass
class LinearAutoencoder:
    """Deterministic per-feature affine model x̂ = a·x + b (clipped).

    The trainable generalization of StubAutoencoder: closed-form
    per-feature least squares of x against itself through a bottleneck
    is degenerate, so we fit a/b by full-batch gradient descent with
    fixed init — reproducible to the last bit on any platform.
    """

    a: np.ndarray  # (F,)
    b: np.ndarray  # (F,)

    def predict(self, x: np.ndarray) -> np.ndarray:
        return np.clip(x * self.a + self.b, 0.0, 1.0)

    def save(self, path: str) -> None:
        np.savez(path, a=self.a, b=self.b)

    @classmethod
    def load(cls, path: str) -> "LinearAutoencoder":
        z = np.load(path)
        return cls(a=z["a"], b=z["b"])


def train_linear_autoencoder(
    x: np.ndarray,
    epochs: int = 50,
    lr: float = 0.1,
    patience: int = 10,
    val: np.ndarray | None = None,
) -> tuple[LinearAutoencoder, list[float]]:
    """Full-batch GD on mse(x, a·x+b) with early stopping (M4 semantics:
    epochs/early-stop/best-restore mirror train_autoencoder.py:196-237)."""
    n_features = x.shape[-1]
    a = np.full(n_features, 0.5)
    b = np.zeros(n_features)
    best = (np.inf, a.copy(), b.copy())
    history: list[float] = []
    stale = 0
    val_x = x if val is None or not len(val) else val
    for _ in range(epochs):
        pred = x * a + b
        err = pred - x
        grad_a = 2.0 * (err * x).mean(axis=(0, 1))
        grad_b = 2.0 * err.mean(axis=(0, 1))
        a -= lr * grad_a
        b -= lr * grad_b
        val_err = val_x * a + b - val_x
        val_loss = float((val_err * val_err).mean())
        history.append(val_loss)
        if val_loss < best[0] - 1e-12:
            best = (val_loss, a.copy(), b.copy())
            stale = 0
        else:
            stale += 1
            if stale >= patience:  # EarlyStopping(restore_best_weights)
                break
    _, a, b = best
    return LinearAutoencoder(a=a, b=b), history


def fit_threshold(mse_df: DataFrame, percentile: float = 0.95) -> float:
    """A11: threshold = percentile of (validation) window errors."""
    return float(
        mse_df.agg(F.percentile("mse", percentile).alias("p")).first()["p"]
    )


def save_artifacts(
    out_dir: str,
    model: LinearAutoencoder,
    history: list[float],
    scaler_params,  # DataFrame from operators.scale.fit_params, or None
    threshold: float,
) -> None:
    """S9/S10/S14 equivalents: weights npz + params parquet + meta json.

    ``scaler_params=None`` skips the params write (the preprocess stage
    already persisted them).  When given, the params are materialized
    to the driver BEFORE writing — a lazy ``df.write`` pointed at a path
    the same plan reads would self-destruct (overwrite deletes the
    input files mid-scan).
    """
    os.makedirs(out_dir, exist_ok=True)
    model.save(os.path.join(out_dir, "autoencoder_weights.npz"))
    if scaler_params is not None:
        pdf = scaler_params.toPandas()
        path = os.path.join(out_dir, "scaler_params_fitted.parquet")
        pdf.to_parquet(path, index=False)
    with open(os.path.join(out_dir, "training_meta.json"), "w") as fh:
        json.dump({"history": history, "threshold": threshold}, fh)


def train_linear_autoencoder_distributed(
    windows,  # DataFrame (window_id, start_ts, features)
    epochs: int = 50,
    lr: float = 0.1,
    patience: int = 10,
) -> tuple[LinearAutoencoder, list[float]]:
    """Distributed full-batch GD: gradients aggregate on the cluster,
    parameters live on the driver (the north-star "Spark-integrated
    training" shape).

    Per epoch ONE Spark job computes partial (sum(err*x), sum(err),
    sum(err^2), n) per Arrow batch under the current (a, b) — shipped
    into the closure as plain arrays — and the driver applies the
    update.  The windows DataFrame is persisted once and rescanned per
    epoch; at the reference's scale this matches driver-side training
    to float precision (partial-sum order is the only difference).
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ module)

    from ..shipping import ensure_shipped

    ensure_shipped(windows.sparkSession)
    persisted = windows.select("features").persist()
    try:
        n_features = len(persisted.first()["features"][0])
        a = np.full(n_features, 0.5)
        b = np.zeros(n_features)
        best = (np.inf, a.copy(), b.copy())
        history: list[float] = []
        stale = 0
        schema = (
            "sum_ex array<double>, sum_e array<double>, "
            "sum_sq double, n bigint"
        )
        def epoch_stats(a_now: np.ndarray, b_now: np.ndarray):
            def partials(batches):
                for pdf in batches:
                    if pdf.empty:
                        continue
                    x = np.array(
                        [
                            np.array([np.asarray(r) for r in w])
                            for w in pdf["features"]
                        ],
                        dtype="float64",
                    )
                    err = x * a_now + b_now - x
                    yield pd.DataFrame(
                        {
                            "sum_ex": [(err * x).sum(axis=(0, 1)).tolist()],
                            "sum_e": [err.sum(axis=(0, 1)).tolist()],
                            "sum_sq": [float((err * err).sum())],
                            "n": [int(x.shape[0] * x.shape[1])],
                        }
                    )

            parts = persisted.mapInPandas(partials, schema).toPandas()
            n_total = int(parts["n"].sum())
            sum_ex = np.sum([np.array(v) for v in parts["sum_ex"]], axis=0)
            sum_e = np.sum([np.array(v) for v in parts["sum_e"]], axis=0)
            loss = float(parts["sum_sq"].sum() / (n_total * n_features))
            return sum_ex / n_total, sum_e / n_total, loss

        # semantics aligned with train_linear_autoencoder: per epoch,
        # update with the gradient, THEN record the post-update loss
        # (the reference's val_loss-after-fit, train_autoencoder.py:203-237)
        mean_ex, mean_e, _ = epoch_stats(a, b)
        for _ in range(epochs):
            a = a - lr * 2.0 * mean_ex
            b = b - lr * 2.0 * mean_e
            mean_ex, mean_e, loss = epoch_stats(a, b)
            history.append(loss)
            if loss < best[0] - 1e-12:
                best = (loss, a.copy(), b.copy())
                stale = 0
            else:
                stale += 1
                if stale >= patience:
                    break
        _, a, b = best
        return LinearAutoencoder(a=a, b=b), history
    finally:
        persisted.unpersist()
