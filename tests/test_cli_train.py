"""CLI train -> filter end-to-end: trained LSTM weights + matching
threshold artifacts, consumed by the filter stage (M4 + S9/S10/S14).

Also gates the Spark jobs each stage runs and the checkpoint blocks it
leaves behind: both stages build the windows once and release the
frames they cut.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from prometheus_anomaly_detection_lstm_spark.cli import cmd_filter, cmd_train
from prometheus_anomaly_detection_lstm_spark.config import EngineConfig
from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder

#: stage -> Spark jobs one call runs on the fixture.  Exact: the windows
#: are built once per stage, so a consumer chained above the cut (a
#: rebuild of the windows or a rescoring) shows up here.  With the
#: windows re-planned per consumer, train ran 30 jobs and filter 19.
JOB_GATES = {"train": 10, "filter": 13}


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


def test_stage_job_gates(tmp_path, processed, count_jobs):
    cfg = _cfg(tmp_path, "lstm")
    for name, fn in (("train", cmd_train), ("filter", cmd_filter)):
        _, got = count_jobs(lambda: fn(cfg, input_path=processed))
        assert got <= JOB_GATES[name], (
            f"cmd_{name}: {got} Spark jobs (gate {JOB_GATES[name]}) — a "
            "consumer no longer reads the one cut windows frame"
        )


def test_stages_release_checkpoint_blocks(spark, tmp_path, processed):
    """A long-lived session running train and filter repeatedly keeps
    no checkpoint blocks from either stage."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    cfg = _cfg(tmp_path, "linear")
    for _ in range(2):
        cmd_train(cfg, input_path=processed)
        cmd_filter(cfg, input_path=processed)
    assert persistent().size() == before
