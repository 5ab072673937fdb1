"""CLI preprocess, train and filter stages.

preprocess: the processed parquet and ``scaler_params.parquet`` equal a
pandas/NumPy oracle (ffill/bfill, calendar features, sklearn scaler
rules with ddof=0), and the detector scales a live window exactly as
preprocess scaled the training data (A1-A5, M1, S9).  train -> filter:
trained LSTM weights + matching threshold artifacts, consumed by the
filter stage (M4 + S10/S14).

Also gates the Spark jobs each stage runs and the checkpoint blocks it
leaves behind: preprocess fits its scaler once over one cut frame, and
train and filter build the windows once; every stage releases the
frames it cuts.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from prometheus_anomaly_detection_lstm_spark.cli import (
    cmd_filter,
    cmd_preprocess,
    cmd_train,
)
from prometheus_anomaly_detection_lstm_spark.config import EngineConfig
from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder
from prometheus_anomaly_detection_lstm_spark.streaming.detector import (
    DetectorConfig,
    run_detection_cycle,
)
from prometheus_anomaly_detection_lstm_spark.streaming.exporter import DetectorMetrics

#: stage -> Spark jobs one call runs on the fixture.  Exact: the windows
#: are built once per stage, so a consumer chained above the cut (a
#: rebuild of the windows or a rescoring) shows up here.  With the
#: windows re-planned per consumer, train ran 30 jobs and filter 19.
#: preprocess fits once over its cut frame; with a second fit under the
#: transform (a broadcast cross join over the fill plan) it ran 14.
JOB_GATES = {"preprocess": 9, "train": 10, "filter": 13}

#: the raw fixture's metrics, in the sorted order preprocess uses
RAW_METRICS = ["cpu", "dead", "mem", "net"]

#: the scaler artifact's schema (operators/scale.fit_params)
PARAMS_SCHEMA = pa.schema(
    [("feature", pa.string())]
    + [(c, pa.float64()) for c in ("min", "max", "mean", "std_pop")]
)


@pytest.fixture()
def raw(spark, tmp_path):
    """A collected wide frame crossing midnight: leading and interior
    nulls (cpu), interior nulls (net), a constant column (mem) and an
    all-null metric (dead).  The last 20 rows have every live metric."""
    ts = pd.date_range("2024-01-01 23:00", "2024-01-02 01:00", freq="1min")
    rng = np.random.default_rng(5)
    cpu = rng.uniform(0, 100, len(ts))
    cpu[:3] = np.nan
    cpu[40:43] = np.nan
    net = rng.normal(5, 2, len(ts))
    net[[10, 61, 90]] = np.nan
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "cpu": cpu,
            "dead": np.nan,
            "mem": 7.5,
            "net": net,
            "day_of_week": ts.dayofweek.astype("int64"),
            "hour_of_day": ts.hour.astype("int64"),
        }
    )
    path = str(tmp_path / "raw.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    # Arrow turns the NaNs into nulls, as the collect stage leaves them
    assert spark.read.parquet(path).where("dead IS NULL").count() == len(pdf)
    return path, pdf


def _preprocess_oracle(pdf, scaler_type):
    """(scaled features, params table) in pandas/NumPy."""
    frame = pdf.copy()
    frame[RAW_METRICS] = frame[RAW_METRICS].ffill().bfill()
    frame["day_of_week"] = frame["ts"].dt.dayofweek
    frame["hour_of_day"] = frame["ts"].dt.hour
    features = RAW_METRICS + ["day_of_week", "hour_of_day"]
    x = frame[features].astype(np.float64)
    params = pd.DataFrame(
        {
            "feature": features,
            "min": x.min().to_numpy(),
            "max": x.max().to_numpy(),
            "mean": x.mean().to_numpy(),
            "std_pop": x.std(ddof=0).to_numpy(),
        }
    )
    if scaler_type == "StandardScaler":
        shift, divisor = params["mean"].to_numpy(), params["std_pop"].to_numpy()
    else:  # MinMax, also for an unknown name
        shift = params["min"].to_numpy()
        divisor = params["max"].to_numpy() - shift
    divisor = np.where(divisor == 0, 1.0, divisor)
    return (x - shift) / divisor, params


def _art(cfg, name):
    return os.path.join(cfg.artifacts_dir, name)


@pytest.mark.parametrize(
    "scaler_type", ["MinMaxScaler", "StandardScaler", "NoSuchScaler"]
)
def test_preprocess_matches_oracle(tmp_path, raw, scaler_type):
    path, pdf = raw
    queries = {m: m for m in RAW_METRICS}
    cfg = _cfg(tmp_path, "lstm", queries=queries, scaler_type=scaler_type)
    cmd_preprocess(cfg, input_path=path)
    want, want_params = _preprocess_oracle(pdf, scaler_type)

    table = pq.read_table(_art(cfg, cfg.processed_output_filename))
    assert table.num_rows == len(pdf)
    # the all-null metric stays null: no statistic became a NaN literal
    assert table.column("dead").null_count == len(pdf)
    got = table.to_pandas().sort_values("ts").reset_index(drop=True)
    np.testing.assert_array_equal(
        got["ts"].to_numpy("datetime64[us]"), pdf["ts"].to_numpy("datetime64[us]")
    )
    for c in want.columns:
        assert table.schema.field(c).type == pa.float64(), c
        np.testing.assert_allclose(
            got[c].to_numpy(np.float64), want[c].to_numpy(), rtol=1e-9, atol=1e-12
        )

    params = pq.read_table(_art(cfg, "scaler_params.parquet"))
    assert params.schema.equals(PARAMS_SCHEMA)
    got_params = params.to_pandas()
    assert list(got_params["feature"]) == list(want_params["feature"])
    for c in ("min", "max", "mean", "std_pop"):
        assert params.column(c).null_count == 1, c  # the all-null metric
        np.testing.assert_allclose(
            got_params[c].to_numpy(np.float64),
            want_params[c].to_numpy(),
            rtol=1e-12,
            atol=1e-12,
        )


@pytest.mark.parametrize(
    "scaler, live",
    [
        ("MinMaxScaler", ["cpu", "mem", "net"]),
        ("StandardScaler", ["cpu", "mem", "net"]),
        ("MinMaxScaler", ["net", "cpu", "mem"]),
    ],
    ids=["MinMaxScaler", "StandardScaler", "unsorted_metrics"],
)
def test_detector_scales_like_preprocess(tmp_path, raw, scaler, live):
    """Train/serve parity: fed the rows of ``scaler_params.parquet`` and
    the scaler type preprocess used, the detector turns a raw window into
    the processed parquet's rows for the same timestamps, in the
    processed parquet's column order whatever the configured order."""
    path, pdf = raw
    cfg = _cfg(
        tmp_path, "lstm", queries={m: m for m in RAW_METRICS}, scaler_type=scaler
    )
    cmd_preprocess(cfg, input_path=path)
    processed = pd.read_parquet(_art(cfg, cfg.processed_output_filename))
    processed = processed.sort_values("ts").reset_index(drop=True)

    class Recorder:
        def predict(self, x):
            self.seen = x
            return x

    length = 20
    det = DetectorConfig(
        metrics=live,
        sequence_length=length,
        scaler_params=pd.read_parquet(_art(cfg, "scaler_params.parquet")),
        scaler_type=scaler,
        model=Recorder(),
    )
    tail = pdf.tail(length)
    assert not tail[live].isna().any().any()
    window = tail.melt(
        id_vars="ts", value_vars=live, var_name="metric", value_name="value"
    )
    assert run_detection_cycle(window, det, DetectorMetrics()) is not None
    seen = det.model.seen
    columns = [c for c in processed.columns if c in det.features]
    assert seen.shape == (1, length, len(columns))
    want = processed[columns].tail(length).to_numpy()
    np.testing.assert_allclose(seen[0], want, rtol=1e-12, atol=0.0)


@pytest.fixture()
def processed(spark, tmp_path):
    ts = pd.date_range("2024-01-01", periods=60, freq="2min")
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "m1": rng.uniform(0, 1, 60),
            "m2": rng.uniform(0, 1, 60),
        }
    )
    path = str(tmp_path / "processed.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    return path


def _cfg(tmp_path, model_type, **kw):
    return EngineConfig(
        artifacts_dir=str(tmp_path / "artifacts"),
        sequence_length=5,
        epochs=3,
        early_stopping_patience=3,
        model_type=model_type,
        **kw,
    )


@pytest.mark.parametrize("model_type", ["lstm", "linear"])
def test_train_then_filter(spark, tmp_path, processed, model_type):
    cfg = _cfg(tmp_path, model_type)
    cmd_train(cfg, input_path=processed)

    weights = os.path.join(cfg.artifacts_dir, "autoencoder_weights.npz")
    meta = os.path.join(cfg.artifacts_dir, "training_meta.json")
    assert os.path.exists(weights) and os.path.exists(meta)
    with np.load(weights) as npz:
        keys = set(npz.files)
    if model_type == "lstm":
        assert "enc1_W" in keys and "dense_W" in keys
    else:
        assert keys == {"a", "b"}
    with open(meta) as fh:
        m = json.load(fh)
    assert m["threshold"] > 0 and len(m["history"]) >= 1

    cmd_filter(cfg, input_path=processed)
    normal = spark.read.parquet(
        os.path.join(cfg.artifacts_dir, "normal_sequences.parquet")
    )
    anom = spark.read.parquet(
        os.path.join(cfg.artifacts_dir, "anomalous_sequences.parquet")
    )
    # every full window lands in exactly one split
    assert normal.count() + anom.count() == 60 - 5 + 1
    # threshold = p95 of val errors scored with the TRAINED model ->
    # the filter (same model, same data superset) flags a minority
    assert anom.count() < normal.count()


def test_threshold_from_all_windows_when_validation_empty(spark, tmp_path, processed):
    """train_split_ratio=1.0 leaves validation empty: the threshold is
    the p95 of the trained model's MSE over every window, and filter
    puts each window, unchanged, in exactly one split."""
    cfg = _cfg(tmp_path, "lstm", train_split_ratio=1.0)
    cmd_train(cfg, input_path=processed)
    cmd_filter(cfg, input_path=processed)

    # window i is rows i .. i+L-1 of the processed frame in ts order
    frame = pd.read_parquet(processed).sort_values("ts").reset_index(drop=True)
    vals = frame[["m1", "m2"]].to_numpy(np.float64)
    length = cfg.sequence_length
    x_all = np.stack([vals[i : i + length] for i in range(len(vals) - length + 1)])
    with np.load(os.path.join(cfg.artifacts_dir, "autoencoder_weights.npz")) as npz:
        model = LSTMAutoencoder({k: npz[k] for k in npz.files})
    err = x_all - model.predict(x_all)
    mse = (err * err).mean(axis=(1, 2))
    with open(os.path.join(cfg.artifacts_dir, "training_meta.json")) as fh:
        threshold = json.load(fh)["threshold"]
    np.testing.assert_allclose(threshold, np.percentile(mse, 95), rtol=1e-9, atol=0.0)

    both = pd.concat(
        [
            pd.read_parquet(os.path.join(cfg.artifacts_dir, name)).assign(flag=flag)
            for name, flag in (
                ("normal_sequences.parquet", 0),
                ("anomalous_sequences.parquet", 1),
            )
        ],
        ignore_index=True,
    )
    ids = both["window_id"].to_numpy(np.int64)
    np.testing.assert_array_equal(np.sort(ids), np.arange(len(x_all)))
    assert (both["is_anomaly"] == both["flag"]).all()
    got = np.stack([np.stack(f) for f in both["features"]])
    np.testing.assert_array_equal(got, x_all[ids])
    np.testing.assert_array_equal(
        both["start_ts"].to_numpy("datetime64[us]"),
        frame["ts"].to_numpy("datetime64[us]")[ids],
    )
    np.testing.assert_array_equal(both["is_anomaly"].to_numpy(), mse[ids] > threshold)


def test_stage_job_gates(tmp_path, raw, processed, count_jobs):
    cfg = _cfg(tmp_path, "lstm", queries={m: m for m in RAW_METRICS})
    for name, fn, path in (
        ("preprocess", cmd_preprocess, raw[0]),
        ("train", cmd_train, processed),
        ("filter", cmd_filter, processed),
    ):
        _, got = count_jobs(lambda: fn(cfg, input_path=path))
        assert got <= JOB_GATES[name], (
            f"cmd_{name}: {got} Spark jobs (gate {JOB_GATES[name]}) — a "
            "consumer no longer reads the stage's one cut frame"
        )


def test_stages_release_checkpoint_blocks(spark, tmp_path, raw, processed):
    """A long-lived session running preprocess, train and filter
    repeatedly keeps no checkpoint blocks from any stage."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    cfg = _cfg(tmp_path, "linear", queries={m: m for m in RAW_METRICS})
    for _ in range(2):
        for fn, path in (
            (cmd_preprocess, raw[0]),
            (cmd_train, processed),
            (cmd_filter, processed),
        ):
            fn(cfg, input_path=path)
            # checked per stage: a JVM GC may drop a leaked block later
            assert persistent().size() == before, fn.__name__
