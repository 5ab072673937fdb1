"""The autoencoder contract: one affine model, one reconstruction-error
rule and one weights file, behind every scorer.

The reference trains a Keras LSTM autoencoder
(train_autoencoder.py:76-91: LSTM 64→32→RepeatVector→32→64→
TimeDistributed(Dense sigmoid)).  TensorFlow is not available in this
environment and Keras training is not bit-reproducible anyway (SURVEY
H5), so:

* :class:`AffineAutoencoder` — X̂ = clip01(a·x + b) per feature.  With
  its default a = 0.9, b = 0.02 it is the correctness-test stub
  (FIXTURES F6), exactly recomputable in SQL/DuckDB; with per-feature
  arrays it is the model ``ml/train.train_linear_autoencoder`` fits.
* :func:`reconstruction_errors` — the reference's scoring rule
  (train_autoencoder.py:277-278, filter_anomalous_data.py:134-139,
  realtime_detector.py:301-311) for any model exposing
  ``predict((n, L, F)) -> (n, L, F)``: this one, or the NumPy LSTM
  (ml/lstm_np.py).
* :func:`save_model` / :func:`load_model` — the ``.npz`` weights file:
  keys ``a``/``b`` hold an affine model, the 14 ``enc*``/``dec*``/
  ``dense_*`` arrays an LSTM.
* :func:`build_lstm_autoencoder` — the faithful Keras architecture,
  gated behind an import-try; raises a clear error when TF is absent.

Inference at scale runs through ml/infer.py (Arrow-batched mapInPandas
with broadcast weights); the stub's scoring additionally factors into
pure Catalyst expressions (operators/score.py) so the hot path has no
Python at all.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .lstm_np import LSTMAutoencoder


@dataclass(frozen=True)
class AffineAutoencoder:
    """Per-feature affine reconstruction with [0,1] clip; ``a`` and
    ``b`` are scalars or (F,) arrays."""

    a: float | np.ndarray = 0.9
    b: float | np.ndarray = 0.02

    def predict(self, x: np.ndarray) -> np.ndarray:
        """x: (num_windows, L, F) -> reconstruction of the same shape."""
        return np.clip(x * self.a + self.b, 0.0, 1.0)


#: the deterministic stub: the stateful detector's model and the
#: default parameters of the Catalyst scorers (operators/score.py)
STUB = AffineAutoencoder()


def reconstruction_errors(model, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """x: (n, L, F) -> per-window MSE over (time, feature), shape (n,)
    (A6), and per-feature MSE over time, shape (n, F) (A8)."""
    err = x - model.predict(x)
    sq = err * err
    return sq.mean(axis=(1, 2)), sq.mean(axis=1)


_AFFINE_KEYS = frozenset({"a", "b"})
_LSTM_KEYS = frozenset(
    [f"{layer}_{p}" for layer in ("enc1", "enc2", "dec1", "dec2") for p in "WUb"]
    + ["dense_W", "dense_b"]
)


def save_model(path: str, model) -> None:
    """Write an affine or LSTM model as an ``.npz`` weights file."""
    if isinstance(model, AffineAutoencoder):
        np.savez(path, a=model.a, b=model.b)
    else:
        np.savez(path, **model.w)


def load_model(path: str):
    """Read a weights file written by :func:`save_model`; the key set
    names the model family.  Any other key set raises ``ValueError``."""
    with np.load(path) as npz:
        arrays = {k: npz[k] for k in npz.files}
    if arrays.keys() == _AFFINE_KEYS:
        return AffineAutoencoder(a=arrays["a"], b=arrays["b"])
    if arrays.keys() == _LSTM_KEYS:
        return LSTMAutoencoder(arrays)
    raise ValueError(
        f"{path}: weights file holds keys {sorted(arrays)}; expected "
        f"{sorted(_AFFINE_KEYS)} (affine) or {sorted(_LSTM_KEYS)} (LSTM)"
    )


def build_lstm_autoencoder(
    sequence_length: int,
    num_features: int,
    encoder_units: tuple[int, int] = (64, 32),
    learning_rate: float = 0.001,
):
    """The reference's Keras architecture (train_autoencoder.py:76-91).

    Requires TensorFlow; unavailable in this image -> informative error.
    Training stays on the driver (the reference's workload is ~8k
    windows, SURVEY §6); data prep and scoring are the distributed parts.
    """
    try:
        from tensorflow import keras
        from tensorflow.keras import layers
    except ImportError as exc:  # pragma: no cover - TF absent in CI image
        raise NotImplementedError(
            "TensorFlow/Keras is not installed in this environment; "
            "use AffineAutoencoder for deterministic scoring, or install "
            "tensorflow to train the LSTM architecture."
        ) from exc

    e1, e2 = encoder_units
    inputs = keras.Input(shape=(sequence_length, num_features))
    x = layers.LSTM(e1, activation="relu", return_sequences=True)(inputs)
    x = layers.LSTM(e2, activation="relu", return_sequences=False)(x)
    x = layers.RepeatVector(sequence_length)(x)
    x = layers.LSTM(e2, activation="relu", return_sequences=True)(x)
    x = layers.LSTM(e1, activation="relu", return_sequences=True)(x)
    outputs = layers.TimeDistributed(
        layers.Dense(num_features, activation="sigmoid")
    )(x)
    model = keras.Model(inputs, outputs)
    model.compile(
        optimizer=keras.optimizers.Adam(learning_rate=learning_rate), loss="mse"
    )
    return model
