"""Realtime anomaly detector as Structured Streaming (SURVEY §2.8).

The reference's detector (realtime_detector.py:350-398) is a
``while True: sleep(interval)`` loop that each cycle re-fetches the last
L points per metric, preprocesses, scores one window, and pushes gauges.
The Spark-native port keeps the same *stateless recompute* semantics
(T2) inside ``foreachBatch`` of a processing-time-triggered streaming
query (T1).  A cycle is a one-shot call of the stateful operator's core
(``stateful.merge_ring`` over the whole window, then
``stateful.score_ring`` with the calendar columns, the fitted scaler and
the model); SPOT and the gauges stay here.  The exporter sink (S12)
receives "update-mode" gauge writes (T4) and the reference's
guard/sentinel behaviors are preserved:

* missing metric -> whole cycle skipped                 (T3, :176-190)
* short window (n < L) -> skipped, point-count gauge    (T3, :211-215)
* scoring failure -> mse gauge -1, flag 0               (M6, :339-348)

``run_detector_on_batch`` is trigger-agnostic: production wires it to a
rate source (``trigger(processingTime='30 seconds')``); tests drive it
with a replayed fixture micro-batch (FIXTURES F7 cycles).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import logging

import pandas as pd

from pyspark.sql import DataFrame

from ..ml.autoencoder import AffineAutoencoder
from ..operators.scale import affine
from .exporter import DetectorMetrics
from .stateful import merge_ring, ring_samples, score_ring


@dataclass
class DetectorConfig:
    metrics: list[str]
    sequence_length: int = 20
    #: static MSE alarm threshold (the reference's hand-tuned
    #: ``anomaly_threshold_mse``, config.yaml:113-119).  None switches
    #: to AUTOMATIC thresholding: a streaming SPOT/EVT fit over the
    #: detector's own recent MSE scores (streaming/spot.py) — the
    #: detector stays silent while the calibrator warms up, then
    #: alarms at the risk-q EVT level; alarmed scores are not fed back
    #: into calibration (Siffer et al., KDD'17).
    threshold: float | None = 0.0013
    scaler_params: pd.DataFrame | None = None  # scaler_params.parquet
    #: the scaler preprocess fitted (``EngineConfig.scaler_type``), so a
    #: live window is scaled as the model's training data was
    scaler_type: str = "MinMaxScaler"
    #: any scorer exposing predict((1, L, F)) -> (1, L, F): the stub
    #: AffineAutoencoder, or a trained model from ml.autoencoder.load_model
    model: object = field(default_factory=AffineAutoencoder)
    #: SPOT calibrator used when ``threshold`` is None.
    spot: "object" = None
    #: drift-aware auto-threshold: with ``threshold=None``, pick the
    #: DSPOT calibrator (residuals vs a bounded moving-average local
    #: model, Siffer et al. KDD'17 §4.3) instead of plain SPOT — the
    #: right default when the MSE baseline itself trends (model aging,
    #: slow data drift); the zoo measured 2 vs 489 false alarms on a
    #: two-week ramp (BASELINE.md round-7 scorecard).
    drift: bool = False

    def __post_init__(self):
        if self.threshold is None and self.spot is None:
            from .spot import DriftSpotCalibrator, SpotCalibrator

            self.spot = (
                DriftSpotCalibrator() if self.drift else SpotCalibrator()
            )
        # the fitted scaler over ``features`` (realtime_detector.py:231-242)
        self._scale = None if self.scaler_params is None else tuple(
            np.asarray(v, np.float64)
            for v in affine(self.scaler_params.to_dict("records"), self.features, self.scaler_type)
        )

    @property
    def features(self) -> list[str]:
        """The model's columns in training order: the metrics sorted,
        then the calendar columns, as ``cli collect`` and ``cli
        preprocess`` write them and ``cli train`` windows them."""
        return sorted(self.metrics) + ["day_of_week", "hour_of_day"]


def run_detection_cycle(
    window_long: pd.DataFrame, cfg: DetectorConfig, sinks: DetectorMetrics
) -> dict | None:
    """One cycle over a long-format window (ts, metric, value): the
    stateful operator's ring merge over the whole window (no trim), then
    its scorer with the calendar columns, the config's scaler and model.

    Returns the cycle outcome dict, or None when skipped (guards).
    """
    metrics = sorted(cfg.metrics)
    ring = merge_ring(ring_samples([window_long], metrics), len(metrics))
    got = score_ring(*ring, cfg.sequence_length, cfg.model, cfg._scale, calendar=True)
    # every CONFIGURED metric must be present (realtime_detector.py:176-193);
    # an extra series in the scrape (a newly-added gauge) is ignored
    if got.reason == "missing_metric":
        return None
    sinks.window_points.set(got.n_points)
    if got.reason == "score_error":
        sinks.latest_mse.set(-1.0)  # sentinel (M6, :339-348)
        sinks.is_anomaly.set(0.0)
    if got.reason is not None:  # short window (:211-215) or the sentinel
        return None
    mse = got.mse
    thr = cfg.threshold
    if thr is None:  # automatic SPOT/EVT threshold (streaming/spot.py)
        thr = cfg.spot.threshold  # None while calibrating -> no alarm
    is_anom = thr is not None and mse > thr
    if cfg.threshold is None and not is_anom:
        # alarmed scores never recalibrate the bar (SPOT protocol)
        cfg.spot.observe(mse)
    sinks.latest_mse.set(mse)
    sinks.is_anomaly.set(1.0 if is_anom else 0.0)
    if is_anom:
        sinks.total_anomalies.inc()
    for name, v in zip(cfg.features, got.feature_mse):
        sinks.feature_mse.set(float(v), feature_name=name)
    sinks.last_success.set_to_current_time()
    return {"mse": mse, "is_anomaly": is_anom, "n_points": got.n_points, "threshold": thr}


def run_detector_on_batch(
    batch_df: DataFrame, cfg: DetectorConfig, sinks: DetectorMetrics
) -> list[dict]:
    """foreachBatch body: each distinct cycle_id in the batch is one
    detection cycle (exceptions per cycle are logged-and-continue,
    matching the reference loop :392-398)."""
    pdf = batch_df.select("cycle_id", "ts", "metric", "value").toPandas()
    outcomes = []
    for cycle_id, window in pdf.groupby("cycle_id", sort=True):
        try:
            out = run_detection_cycle(window, cfg, sinks)
        except Exception:
            # logged-AND-continue (reference loop :392-398) — silently
            # discarding made production failures indistinguishable
            # from legitimate guard skips
            logging.getLogger(__name__).exception(
                "detection cycle %s failed", cycle_id
            )
            out = None
        outcomes.append({"cycle_id": int(cycle_id), "outcome": out})
    return outcomes
