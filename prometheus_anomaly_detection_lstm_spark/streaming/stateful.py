"""Stateful streaming detector (SURVEY H6 / §2.8-T2 idiomatic upgrade).

The reference re-fetches the full L-point window every cycle
(realtime_detector.py:142-153 — stateless recompute).  The idiomatic
Structured-Streaming upgrade keeps the trailing window in OPERATOR
STATE so each trigger only needs the NEW samples: a ring buffer of
recent (ts, metric, value) rows lives in per-key group state, and a
scored row is emitted per batch once the buffer holds a full aligned
window.

Implementation note: Spark 4's ``transformWithStateInPandas`` is the
newer API, but its Python worker requires ``google.protobuf`` which is
not in this image — so this uses ``applyInPandasWithState`` (GroupState,
Spark >= 3.4, no extra deps).  The ring buffer is stored as arrays in
the state tuple; semantics are identical.

Input stream : (detector_id string, ts timestamp, metric string, value double)
Output stream: (detector_id, window_end, mse, is_anomaly, n_points)

State size is O(2L x n_metrics) per detector key — thousands of
detectors shard across executors by key, nothing global.

Deployment note: the stateful operator's partition count is taken from
``spark.sql.shuffle.partitions`` at the FIRST run and frozen into the
checkpoint — size it to the detector-key cardinality before starting
(200 tasks per micro-batch for one key is pure scheduling overhead).
Each state partition runs one Python task per micro-batch.  Measured on
a 4-vCPU box, a Python task on a reused worker adds about 0.09 CPU-s of
fixed cost to the process tree (0.34 before the package's lazy zip
invalidation, see ``shipping``); a fresh worker spends about 0.7 CPU-s
of its own on its first task.  The state function calls :func:`_update`
by module reference, so every state-partition worker imports the
package and gets the lazy invalidation; :func:`stateful_detector_stream`
ships the package for it.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from prometheus_anomaly_detection_lstm_spark import shipping

OUTPUT_SCHEMA = (
    "detector_id string, window_end timestamp, "
    "mse double, is_anomaly int, n_points int"
)
STATE_SCHEMA = (
    "ts array<timestamp>, metric array<string>, value array<double>"
)


def make_detector_fn(
    metrics: list[str],
    sequence_length: int = 20,
    threshold: float = 0.0013,
    a: float = 0.9,
    b: float = 0.02,
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
        return _update(key, pdfs, state, metrics, sequence_length, threshold, a, b)

    return detect


def _update(
    key: Any,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    metrics: list[str],
    L: int,
    threshold: float,
    a: float,
    b: float,
) -> Iterator[pd.DataFrame]:
    """One key's batch: merge the new samples into the ring buffer, trim
    it to the last 2L timestamps and score the last L aligned steps."""
    new = pd.concat(list(pdfs), ignore_index=True)
    if state.exists:
        ts_arr, m_arr, v_arr = state.get
        old = pd.DataFrame({"ts": ts_arr, "metric": m_arr, "value": v_arr})
        old["ts"] = pd.to_datetime(old["ts"])
        allrows = pd.concat(
            [old, new[["ts", "metric", "value"]]], ignore_index=True
        )
    else:
        allrows = new[["ts", "metric", "value"]]
    allrows = allrows.drop_duplicates(["ts", "metric"], keep="first")

    # ring trim: keep the last 2L distinct timestamps
    keep_ts = sorted(allrows["ts"].unique())[-(L * 2) :]
    allrows = allrows[allrows["ts"].isin(keep_ts)]
    state.update(
        (
            list(allrows["ts"]),
            list(allrows["metric"]),
            [float(v) for v in allrows["value"]],
        )
    )

    wide = allrows.pivot_table(
        index="ts", columns="metric", values="value", aggfunc="first"
    )
    if set(metrics) <= set(wide.columns):
        aligned = wide.dropna(subset=metrics)
    else:  # a metric entirely absent -> nothing aligned (J3 guard)
        aligned = wide.iloc[0:0]
    if len(aligned) < L:
        yield pd.DataFrame(
            {
                "detector_id": [key[0]],
                "window_end": [pd.NaT],
                "mse": [float("nan")],
                "is_anomaly": [0],
                "n_points": [len(aligned)],
            }
        )
        return
    tail = aligned.sort_index().tail(L)[metrics].to_numpy(dtype="float64")
    recon = np.clip(tail * a + b, 0.0, 1.0)
    mse = float(((tail - recon) ** 2).mean())
    yield pd.DataFrame(
        {
            "detector_id": [key[0]],
            "window_end": [aligned.index.max()],
            "mse": [mse],
            "is_anomaly": [int(mse > threshold)],
            "n_points": [len(aligned)],
        }
    )


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
