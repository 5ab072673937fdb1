"""The detector core, and the stateful streaming detector built on it
(SURVEY H6 / §2.8-T2 idiomatic upgrade).

The reference re-fetches the full L-point window every cycle
(realtime_detector.py:142-153).  Here a ring of recent samples lives in
per-key group state as compact NumPy buffers, so a trigger needs only
the NEW samples, and each batch emits one row per key, scored once the
ring holds a full aligned window.  Two pure NumPy pieces are the one
detector core: :func:`merge_ring` (samples -> matrix, first sample per
cell) and :func:`score_ring` (guards, then the last L aligned steps
through ``ml.autoencoder.reconstruction_errors``).  The stateless cycle
``detector.run_detection_cycle`` is a one-shot call of both.

This uses ``applyInPandasWithState`` (Spark >= 3.4, no extra
dependency): Spark 4's ``transformWithStateInPandas`` needs
``google.protobuf`` in its Python worker.

Input stream : (detector_id string, ts timestamp, metric string, value double)
Output stream: (detector_id, window_end, mse, is_anomaly, n_points)

State layout (``STATE_SCHEMA``), one row per detector key, for L =
``sequence_length`` and M configured metrics in sorted order:

- ``metrics``: the M metric names, sorted: the matrix's columns;
- ``ts``: the ring's last 2L distinct timestamps, sorted, as int64
  microseconds (the session-local wall time Spark hands to pandas);
- ``value``: the (n_ts x M) float64 matrix, row-major, ``tobytes()``;
- ``seen``: the (n_ts x M) bool mask of occupied cells, ``tobytes()``.

That is at most 8·2L + 9·2L·M bytes per key (6,080 for L = 20, M = 16)
plus the M names.  A checkpoint written with the earlier row-list state
(``ts array<timestamp>, metric array<string>, value array<double>``)
fails at start with ``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``, and a
key whose stored names differ from the configured metrics fails the
batch with a ``ValueError`` naming both lists: start either on a fresh
checkpoint.

Deployment: the operator's partition count is ``spark.sql.shuffle.partitions``
at the FIRST run, frozen into the checkpoint — size it to the detector
keys.  Each state partition runs one Python task per micro-batch (about
0.09 CPU-s of fixed cost on a reused worker, 0.7 on a fresh one, on a
4-vCPU box).  The state function calls :func:`_update` by module
reference, so each worker imports the package and gets its lazy zip
invalidation (``shipping``); this module imports nothing from
``detector``, ``exporter`` or ``spot``, so workers load no more.
"""

from __future__ import annotations

import logging
from typing import Any, Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from prometheus_anomaly_detection_lstm_spark import shipping
from prometheus_anomaly_detection_lstm_spark.ml.autoencoder import (
    STUB,
    reconstruction_errors,
)

OUTPUT_SCHEMA = (
    "detector_id string, window_end timestamp, "
    "mse double, is_anomaly int, n_points int"
)
STATE_SCHEMA = "metrics array<string>, ts array<bigint>, value binary, seen binary"


def make_detector_fn(
    metrics: list[str],
    sequence_length: int = 20,
    threshold: float = 0.0013,
):
    """Build the applyInPandasWithState function.  The closure carries
    plain values and calls :func:`_update` by module reference, so a
    worker unpickling it imports this package (which needs
    ``shipping.ensure_shipped``) and installs the package's lazy zip
    invalidation."""
    metrics = sorted(metrics)

    def detect(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        return _update(key, pdfs, state, metrics, sequence_length, threshold)

    return detect


def _update(
    key: Any,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    metrics: list[str],
    L: int,
    threshold: float,
) -> Iterator[pd.DataFrame]:
    """One key's batch: merge the new samples into the ring, keep its
    last 2L distinct timestamps (one carried only by a metric outside
    ``metrics`` counts too) and score the ring with the stub model
    (``ml.autoencoder.STUB``), no scaler and no calendar columns.
    ``n_points`` counts the aligned steps in the ring, ``window_end`` is
    the last one scored; a guard reason emits an unscored row.  State
    stored for another metric list raises ``ValueError``."""
    old_metrics, *ring = state.get if state.exists else (metrics, [], b"", b"")
    if list(old_metrics) != metrics:
        raise ValueError(
            f"detector {key[0]!r}: its state holds metrics {list(old_metrics)}, "
            f"not the configured {metrics}; start it on a fresh checkpoint"
        )
    ts, val, seen = merge_ring(ring_samples(list(pdfs), metrics), len(metrics), *ring)
    ts, val, seen = ts[-2 * L :], val[-2 * L :], seen[-2 * L :]
    state.update((metrics, ts.tolist(), val.tobytes(), seen.tobytes()))

    got = score_ring(ts, val, seen, L)  # a guard reason leaves mse NaN
    end = pd.NaT if got.reason else pd.Timestamp(got.end, unit="us")
    yield pd.DataFrame(
        {"detector_id": [key[0]], "window_end": [end], "mse": [got.mse],
         "is_anomaly": [int(got.mse > threshold)], "n_points": [got.n_points]}
    )


def ring_samples(frames: list[pd.DataFrame], metrics: list[str]):
    """Long (ts, metric, value) frames -> int64 microsecond timestamps,
    column indices into ``metrics`` (-1 for any other metric) and
    float64 values, in row order."""
    index = pd.Index(metrics)
    return (
        np.concatenate([f["ts"].to_numpy("datetime64[us]").view(np.int64) for f in frames]),
        np.concatenate([index.get_indexer(f["metric"]) for f in frames]),
        np.concatenate([f["value"].to_numpy(np.float64) for f in frames]),
    )


def merge_ring(samples, M: int, ts=(), val=b"", seen=b""):
    """Merge :func:`ring_samples` into a ring given in its state encoding
    (empty by default): returns the sorted union of the timestamps, the
    (n_ts x M) float64 matrix and its seen mask.

    A cell keeps its first sample: a ring sample beats a new one, and
    among the new ones the earlier row wins.  A present-but-NaN sample
    occupies its cell (``seen`` tells it from a missing one).  A sample
    of column -1 adds its timestamp and no value."""
    new_ts, new_col, new_val = samples
    old_ts = np.asarray(ts, dtype=np.int64)
    out_ts = np.union1d(old_ts, new_ts)
    out_val = np.full((len(out_ts), M), np.nan)
    out_seen = np.zeros((len(out_ts), M), np.bool_)
    rows = np.searchsorted(out_ts, old_ts)
    out_val[rows] = np.frombuffer(val, np.float64).reshape(len(old_ts), M)
    out_seen[rows] = np.frombuffer(seen, np.bool_).reshape(len(old_ts), M)
    ok = new_col >= 0
    cells = np.searchsorted(out_ts, new_ts[ok]) * M + new_col[ok]
    cells, first = np.unique(cells, return_index=True)  # first in row order
    fresh = ~out_seen.reshape(-1)[cells]
    out_val.reshape(-1)[cells[fresh]] = new_val[ok][first[fresh]]
    out_seen.reshape(-1)[cells[fresh]] = True
    return out_ts, out_val, out_seen


class Scored(NamedTuple):
    reason: str | None
    n_points: int
    end: int | None = None
    mse: float = float("nan")
    feature_mse: np.ndarray | None = None


def score_ring(ts, val, seen, L, model=STUB, scale=None, calendar=False) -> Scored:
    """Score a ring's last L aligned steps (every column non-NaN) with
    ``model`` through ``ml.autoencoder.reconstruction_errors``: the
    result holds the last step (µs), the MSE and the per-column MSE, or
    a guard ``reason`` and no score.  ``n_points`` counts aligned steps.

    Reasons: ``missing_metric`` (a column with no seen cell, J3),
    ``short_window`` (fewer than L aligned steps, W4), ``score_error``
    (the model raised, M6).  ``calendar`` appends ``day_of_week``
    (Monday = 0) and ``hour_of_day`` of each step; ``scale`` is a
    ``(shift, divisor)`` pair of arrays over all columns."""
    aligned = np.flatnonzero(~np.isnan(val).any(axis=1))
    if not seen.any(axis=0).all():
        return Scored("missing_metric", len(aligned))
    if len(aligned) < L:
        return Scored("short_window", len(aligned))
    rows = aligned[-L:]
    # metric-major, the memory order of a pandas pivot of the window, so
    # the MSE sums in the same order as a pandas scorer does
    x = np.asfortranarray(val[rows])
    if calendar:
        hours = ts[rows] // 3_600_000_000  # 1970-01-01 was a Thursday
        x = np.asfortranarray(np.column_stack([x, (hours // 24 + 3) % 7, hours % 24]))
    if scale is not None:
        x = (x - scale[0]) / scale[1]
    try:
        mse, feature_mse = reconstruction_errors(model, x[np.newaxis])
    except Exception:  # any model's failure: the M6 sentinel, not a lost batch
        logging.getLogger(__name__).exception("window scoring failed")
        return Scored("score_error", len(aligned))
    return Scored(None, len(aligned), int(ts[rows[-1]]), float(mse[0]), feature_mse[0])


def stateful_detector_stream(
    source: DataFrame,
    metrics: list[str],
    sequence_length: int = 20,
    threshold: float = 0.0013,
) -> DataFrame:
    """Wire a streaming (detector_id, ts, metric, value) source through
    the ring-buffer state function.  Caller starts the returned stream
    with its own sink/checkpoint."""
    shipping.ensure_shipped(source.sparkSession)
    fn = make_detector_fn(metrics, sequence_length, threshold)
    return source.groupBy("detector_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
