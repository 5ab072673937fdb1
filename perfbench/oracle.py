"""Single-process pandas/NumPy renderings of the reference semantics.

Each ``check_*`` returns a list of mismatch descriptions (empty = the
program's output equals the reference).  They read only the generated
inputs and the program's artifacts.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder

from . import gen

CALENDAR = ["day_of_week", "hour_of_day"]


def _epoch_s(col: pd.Series) -> np.ndarray:
    return col.astype("datetime64[us]").astype("int64").to_numpy() // 1_000_000


# ------------------------------------------- batch_pipeline: collect, preprocess

def history_wide(seed, start, end, step, n_series, missing) -> pd.DataFrame:
    """Outer align of each query's FIRST series, keep-first, sorted."""
    ts = gen.grid(start, end, step)
    cols = {}
    for q, alias in enumerate(gen.ALIASES):
        vals, keep = gen.block(seed, q, n_series(q), ts, missing)
        cols[alias] = pd.Series(vals[0][keep[0]], index=ts[keep[0]])
    wide = pd.concat(cols, axis=1, join="outer").sort_index()
    wide = wide[~wide.index.duplicated(keep="first")]
    when = pd.to_datetime(wide.index, unit="s")
    wide["day_of_week"] = when.dayofweek.to_numpy(np.float64)
    wide["hour_of_day"] = when.hour.to_numpy(np.float64)
    return wide


def processed(wide: pd.DataFrame) -> pd.DataFrame:
    """ffill -> bfill over the metrics, then MinMax over every feature."""
    out = wide.copy()
    out[gen.ALIASES] = out[gen.ALIASES].ffill().bfill()
    for c in out.columns:
        lo, hi = out[c].min(), out[c].max()
        out[c] = out[c] - lo if hi == lo else (out[c] - lo) / (hi - lo)
    return out


def _compare(got: pd.DataFrame, want: pd.DataFrame, what: str, tol: float) -> list[str]:
    errs = []
    ts = _epoch_s(got["ts"])
    if not np.array_equal(ts, want.index.to_numpy()):
        return [f"{what}: timestamps differ ({len(ts)} rows vs {len(want)})"]
    for c in want.columns:
        if c not in got.columns:
            errs.append(f"{what}: column {c} missing")
            continue
        a = got[c].to_numpy(np.float64)
        b = want[c].to_numpy(np.float64)
        if not np.array_equal(np.isnan(a), np.isnan(b)):
            errs.append(f"{what}: {c} missing-value positions differ")
        elif np.nanmax(np.abs(a - b), initial=0.0) > tol:
            errs.append(f"{what}: {c} differs by {np.nanmax(np.abs(a - b)):.3g}")
    return errs


def check_collect(wide_path: str, want: pd.DataFrame) -> list[str]:
    got = pd.read_parquet(wide_path)
    ts = _epoch_s(got["ts"])
    if not np.all(np.diff(ts) > 0):
        return ["collect: wide parquet not sorted by ts"]
    return _compare(got, want, "collect", 0.0)


def check_preprocess(processed_path: str, want: pd.DataFrame) -> list[str]:
    got = pd.read_parquet(processed_path).sort_values("ts", kind="stable")
    return _compare(got.reset_index(drop=True), want, "preprocess", 1e-9)


# ------------------------------------------------ batch_pipeline: train, filter

def window_tensor(frame: pd.DataFrame, length: int) -> np.ndarray:
    x = frame.drop(columns=["ts"]).to_numpy(np.float64)
    n = len(x) - length + 1
    return np.stack([x[i : i + length] for i in range(max(n, 0))])


def window_mse(weights: dict, x: np.ndarray) -> np.ndarray:
    recon = LSTMAutoencoder(weights).predict(x)
    return ((x - recon) ** 2).mean(axis=(1, 2))


def _window_ids(windows: np.ndarray, x_all: np.ndarray) -> np.ndarray | None:
    """Ids of collected windows, by matching their first row; None on a miss."""
    first = {row.tobytes(): i for i, row in enumerate(x_all[:, 0, :])}
    ids = [first.get(w[0].tobytes()) for w in windows]
    if any(i is None or not np.array_equal(x_all[i], w) for i, w in zip(ids, windows)):
        return None
    return np.array(ids, dtype=np.int64)


def check_train(art: str, x_all: np.ndarray, collected: list[np.ndarray], epochs: int):
    """Threshold = p95 of validation MSE under the saved weights; the
    train/val split covers every window once.  Returns (errors, mse_all)."""
    with np.load(os.path.join(art, "autoencoder_weights.npz")) as npz:
        weights = {k: npz[k] for k in npz.files}
    with open(os.path.join(art, "training_meta.json")) as fh:
        meta = json.load(fh)
    mse_all = window_mse(weights, x_all)
    errs = []
    if len(meta["history"]) != epochs:
        errs.append(f"train: {len(meta['history'])} epochs run, {epochs} configured")
    if len(collected) != 2:
        return errs + [f"train: {len(collected)} window collects, expected 2"], mse_all
    x_train, x_val = collected
    ids = [_window_ids(x, x_all) for x in (x_train, x_val)]
    if any(i is None for i in ids):
        return errs + ["train: a collected window is not a frame slice"], mse_all
    if not np.array_equal(np.sort(np.concatenate(ids)), np.arange(len(x_all))):
        errs.append("train: train+validation windows do not cover every window once")
    want = float(np.percentile(mse_all[ids[1]], 95))
    if not np.isclose(meta["threshold"], want, rtol=1e-9, atol=0.0):
        errs.append(f"train: threshold {meta['threshold']!r} != p95 of validation MSE {want!r}")
    return errs, mse_all


def check_filter(art: str, frame: pd.DataFrame, x_all: np.ndarray, mse_all: np.ndarray) -> list[str]:
    with open(os.path.join(art, "training_meta.json")) as fh:
        thr = json.load(fh)["threshold"]
    parts = []
    for name, flag in (("normal_sequences.parquet", 0), ("anomalous_sequences.parquet", 1)):
        df = pd.read_parquet(os.path.join(art, name))
        if len(df) and not (df["is_anomaly"] == flag).all():
            return [f"filter: {name} holds rows flagged {1 - flag}"]
        parts.append(df)
    both = pd.concat(parts, ignore_index=True)
    ids = both["window_id"].to_numpy(np.int64)
    if not np.array_equal(np.sort(ids), np.arange(len(x_all))):
        return ["filter: normal + anomalous do not cover every window exactly once"]
    errs = []
    starts = _epoch_s(both["start_ts"])
    if not np.array_equal(starts, _epoch_s(frame["ts"])[ids]):
        errs.append("filter: window start_ts differs from the frame")
    got = np.stack([np.stack(f) for f in both["features"]])
    if not np.array_equal(got, x_all[ids]):
        errs.append("filter: window features differ from the frame slices")
    want = mse_all[ids] > thr
    clear = np.abs(mse_all[ids] - thr) > 1e-12 * max(1.0, abs(thr))
    flagged = both["is_anomaly"].to_numpy() == 1
    bad = int(np.sum((want != flagged) & clear))
    if bad:
        errs.append(f"filter: {bad} windows on the wrong side of the threshold")
    return errs


def check_scores(window_ids: np.ndarray, mse: np.ndarray, mse_all: np.ndarray) -> list[str]:
    """Program-side window MSE (traced runs capture it) vs the NumPy recompute."""
    if len(window_ids) != len(mse_all):
        return [f"infer: {len(window_ids)} windows scored, expected {len(mse_all)}"]
    diff = np.abs(mse - mse_all[window_ids])
    if np.max(diff, initial=0.0) > 1e-9:
        return [f"infer: window MSE differs by {np.max(diff):.3g}"]
    return []


# ------------------------------------------------------------ realtime_detect

def detector_mse(seed: int, n_series: int, window_end: int, length: int, a=0.9, b=0.02):
    """MSE per detector over the last ``length`` aligned 1 s grid points
    ending at ``window_end`` (streaming.stateful's affine scorer)."""
    ts = gen.grid(window_end - length + 1, window_end, 1)
    tail = np.stack(
        [gen.block(seed, q, n_series, ts)[0] for q in range(len(gen.ALIASES))], axis=2
    )  # (series, length, metrics)
    recon = np.clip(tail * a + b, 0.0, 1.0)
    return ((tail - recon) ** 2).mean(axis=(1, 2))


def check_detections(seed, n_series, length, threshold, results) -> list[str]:
    """results: (detector_id, window_end epoch s, mse, is_anomaly, n_points)."""
    errs, cache = [], {}
    seen = set()
    for det, end, mse, flag, n in results:
        if end not in cache:
            cache[end] = detector_mse(seed, n_series, end, length)
        want = cache[end][int(det)]
        if n < length or not abs(mse - want) <= 1e-12:
            errs.append(f"detect: detector {det} at {end}: mse {mse!r} != {want!r}")
        elif flag != int(mse > threshold):
            errs.append(f"detect: detector {det} at {end}: anomaly flag {flag}")
        seen.add(int(det))
    missing = set(range(n_series)) - seen
    if missing:
        errs.append(f"detect: {len(missing)} detectors never emitted a window")
    return errs[:20]


def check_coverage(log, n_queries: int, first: int, last: int) -> list[str]:
    """Every grid point of [first, last] was served once per query."""
    errs = []
    for q in range(n_queries):
        spans = sorted((lo, hi) for qq, lo, hi, _ in log if qq == q)
        expect = first
        for lo, hi in spans:
            if lo != expect:
                errs.append(f"stub: query {q} jumps from {expect} to {lo}")
                break
            expect = hi + 1
        else:
            if expect <= last:
                errs.append(f"stub: query {q} served up to {expect - 1}, wanted {last}")
    return errs
