"""Stateful ring-buffer detector: state persists across micro-batches,
so a window completes from buffered history + a small new delta.

The ring's rule is pinned against a pandas oracle of the row-list
detector it replaced (concat state then new, keep-first per (ts,
metric), trim to the last 2L timestamps, pivot, dropna, score the
tail): without Spark over seeded multi-batch sequences, and once
through a live stream.  A checkpoint written with the row-list state
layout must fail loudly on resume."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming.state import GroupStateTimeout

from prometheus_anomaly_detection_lstm_spark.streaming import stateful
from prometheus_anomaly_detection_lstm_spark.streaming.stateful import (
    OUTPUT_SCHEMA,
    stateful_detector_stream,
)

METRICS = ["cpu", "mem"]
L = 6


def _rows(start_min: int, n: int, value: float = 0.5):
    ts = pd.date_range("2024-01-01", periods=200, freq="2min")[
        start_min : start_min + n
    ]
    return pd.DataFrame(
        [
            {"detector_id": "d1", "ts": t, "metric": m, "value": value}
            for m in METRICS
            for t in ts
        ]
    )


@pytest.mark.filterwarnings("ignore")
def test_window_completes_from_state(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # batch 1: L-1 points (insufficient); batch 2: 3 more points
    spark.createDataFrame(_rows(0, L - 1)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    scored = stateful_detector_stream(stream, METRICS, sequence_length=L)
    q = (
        scored.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    first = spark.read.parquet(out).toPandas()
    assert len(first) == 1
    assert first.iloc[0]["n_points"] == L - 1  # insufficient, no score
    assert pd.isna(first.iloc[0]["window_end"])
    assert pd.isna(first.iloc[0]["mse"])

    # second drop: only 3 NEW points — the window must complete from state
    spark.createDataFrame(_rows(L - 1, 3)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = (
        stateful_detector_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            METRICS,
            sequence_length=L,
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)

    both = spark.read.parquet(out).toPandas().sort_values("n_points")
    assert len(both) == 2
    last = both.iloc[-1]
    # only 3 new points arrived, yet the window completed from state
    assert last["n_points"] >= L
    assert last["mse"] > 0
    assert not pd.isna(last["window_end"])


class FakeState:
    """The slice of ``GroupState`` the state functions use."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(value)


def oracle_update(key, pdfs, state, metrics, L, threshold, a, b):
    """The row-list detector's rule: state rows then new rows, keep-first
    per (ts, metric), trim to the last 2L timestamps, pivot, dropna."""
    metrics = sorted(metrics)
    new = pd.concat(list(pdfs), ignore_index=True)
    if state.exists:
        ts_arr, m_arr, v_arr = state.get
        old = pd.DataFrame({"ts": ts_arr, "metric": m_arr, "value": v_arr})
        old["ts"] = pd.to_datetime(old["ts"])
        allrows = pd.concat([old, new[["ts", "metric", "value"]]], ignore_index=True)
    else:
        allrows = new[["ts", "metric", "value"]]
    allrows = allrows.drop_duplicates(["ts", "metric"], keep="first")
    keep_ts = sorted(allrows["ts"].unique())[-(L * 2) :]
    allrows = allrows[allrows["ts"].isin(keep_ts)]
    state.update(
        (list(allrows["ts"]), list(allrows["metric"]), [float(v) for v in allrows["value"]])
    )
    wide = allrows.pivot_table(index="ts", columns="metric", values="value", aggfunc="first")
    if set(metrics) <= set(wide.columns):
        aligned = wide.dropna(subset=metrics)
    else:
        aligned = wide.iloc[0:0]
    if len(aligned) < L:
        yield pd.DataFrame(
            {"detector_id": [key[0]], "window_end": [pd.NaT], "mse": [float("nan")],
             "is_anomaly": [0], "n_points": [len(aligned)]}
        )
        return
    tail = aligned.sort_index().tail(L)[metrics].to_numpy(dtype="float64")
    recon = np.clip(tail * a + b, 0.0, 1.0)
    mse = float(((tail - recon) ** 2).mean())
    yield pd.DataFrame(
        {"detector_id": [key[0]], "window_end": [aligned.index.max()], "mse": [mse],
         "is_anomaly": [int(mse > threshold)], "n_points": [len(aligned)]}
    )


BASE = pd.Timestamp("2024-01-01")
OUTSIDE = "zz_outside"  # a metric outside the configured list


def _sequence(seed):
    """One detector's seeded batches: gaps, duplicates, NaNs, late and
    very late samples, a metric outside the list and, sometimes, a
    configured metric that never arrives."""
    rng = np.random.default_rng(seed)
    L = 2 + seed % 7
    metrics = [f"m{i}" for i in range(int(rng.integers(1, 5)))]
    sent = metrics[:-1] if len(metrics) > 1 and rng.random() < 0.15 else metrics
    clock, batches = 0, []
    for _ in range(int(rng.integers(2, 6))):
        rows = []
        for _ in range(int(rng.integers(1, L + 3))):
            if clock and rng.random() < 0.2:
                t = clock - int(rng.integers(1, 3 * L + 1))
            else:
                clock += int(rng.integers(1, 3))
                t = clock
            for m in sent + [OUTSIDE]:
                if rng.random() < (0.7 if m == OUTSIDE else 0.08):
                    continue
                for _ in range(1 + int(rng.random() < 0.12)):
                    v = np.nan if rng.random() < 0.1 else float(rng.random())
                    rows.append((t, m, v))
        if not rows or rng.random() < 0.2:
            clock += 1
            rows.append((clock, OUTSIDE, 0.5))  # a timestamp only it carries
        if rng.random() < 0.3:
            rows = [rows[i] for i in rng.permutation(len(rows))]
        batches.append(
            pd.DataFrame(
                {
                    "detector_id": "d",
                    "ts": [BASE + pd.Timedelta(seconds=t) for t, _, _ in rows],
                    "metric": [m for _, m, _ in rows],
                    "value": [v for _, _, v in rows],
                }
            )
        )
    return L, metrics, batches


def _cases(L, metrics, batches):
    """Which edge cases a sequence exercises."""
    found, first, ring = set(), {}, []
    for pdf in batches:
        cells = list(zip(pdf["ts"], pdf["metric"]))
        if len(set(cells)) < len(cells):
            found.add("dup_in_batch")
        if any(c in first for c in cells):
            found.add("dup_across_batches")
        if not pdf["ts"].is_monotonic_increasing:
            found.add("out_of_order")
        if len(ring) >= 2 * L and pdf["ts"].min() < ring[-2 * L]:
            found.add("older_than_ring")
        for c, v in zip(cells, pdf["value"]):
            if c in first and np.isnan(first[c]) and not np.isnan(v):
                found.add("nan_then_value")
            first.setdefault(c, v)
        ring = sorted(set(ring) | set(pdf["ts"]))
    if OUTSIDE in {m for _, m in first}:
        found.add("outside_metric")
    if set(metrics) - {m for _, m in first}:
        found.add("never_seen_metric")
    return found


def _one_row(update, key, pdf, state, metrics, L):
    """Run one state-function call; return its single output row."""
    (frame,) = list(update(key, iter([pdf]), state, metrics, L, 0.0013, 0.9, 0.02))
    return tuple(frame.iloc[0])


def _ring_outputs(L, metrics, batches, update):
    state = FakeState()
    return [_one_row(update, ("d",), pdf, state, metrics, L) for pdf in batches]


def _same(got, want):
    """Row equality with NaT == NaT and NaN == NaN; MSE bit for bit."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[3:] == w[3:], (g, w)
        assert (pd.isna(g[1]) and pd.isna(w[1])) or g[1] == w[1], (g, w)
        assert (np.isnan(g[2]) and np.isnan(w[2])) or g[2] == w[2], (g, w)


def test_ring_matches_row_list_oracle():
    """360 seeded multi-batch sequences, L = 2..8: every batch's output
    equals the row-list oracle's, and the corpus covers every edge case."""
    cases, scored, flags = {}, 0, set()
    for seed in range(360):
        L, metrics, batches = _sequence(seed)
        want = _ring_outputs(L, metrics, batches, oracle_update)
        _same(_ring_outputs(L, metrics, batches, stateful._update), want)
        for c in _cases(L, metrics, batches):
            cases[c] = cases.get(c, 0) + 1
        scored += sum(not np.isnan(w[2]) for w in want)
        flags |= {w[3] for w in want if not np.isnan(w[2])}
    assert set(cases) == {
        "dup_in_batch", "dup_across_batches", "out_of_order", "older_than_ring",
        "nan_then_value", "outside_metric", "never_seen_metric",
    }, cases
    assert min(cases.values()) >= 10, cases
    assert scored >= 300 and flags == {0, 1}, (scored, flags)


def test_ring_state_is_compact():
    """2L int64 timestamps and a (2L x M) float64 matrix and bool mask."""
    L, metrics = 20, [f"m{i:02d}" for i in range(16)]
    ts = [BASE + pd.Timedelta(seconds=t) for t in range(3 * L)]
    pdf = pd.DataFrame(
        [("d", t, m, 0.5) for t in ts for m in metrics + [OUTSIDE]],
        columns=["detector_id", "ts", "metric", "value"],
    )
    state = FakeState()
    _one_row(stateful._update, ("d",), pdf, state, metrics, L)
    names, ts_us, value, seen = state.get
    assert names == metrics
    assert ts_us == [int(t.value // 1000) for t in ts[-2 * L :]]
    assert len(value) + len(seen) == 9 * 2 * L * len(metrics)  # 5,760 bytes


@pytest.mark.parametrize("changed", [["cpu", "disk"], ["aaa", "cpu"], ["cpu"]])
def test_changed_metric_list_is_refused(changed):
    """State kept for ["cpu", "mem"] is not read under another metric
    list, also one of the same length: a rename, a rename that changes
    the sorted order, a dropped metric."""
    pdf = pd.DataFrame(
        [("d", BASE, m, 0.5) for m in ["cpu", "mem", "disk", "aaa"]],
        columns=["detector_id", "ts", "metric", "value"],
    )
    state = FakeState()
    _one_row(stateful._update, ("d",), pdf, state, ["cpu", "mem"], 2)
    with pytest.raises(ValueError, match=r"\['cpu', 'mem'\].*fresh checkpoint"):
        _one_row(stateful._update, ("d",), pdf, state, changed, 2)


# d1 scores; d2 never sends "mem", so it never aligns.  Each list is one
# micro-batch of (detector, second, metric, value), in file order.
LIVE_METRICS = ["cpu", "mem"]
LIVE_L = 3
LIVE_BATCHES = [
    [("d1", t, m, 0.1 * t + (m == "mem") * 0.05) for t in range(4) for m in LIVE_METRICS]
    + [
        ("d1", 1, "cpu", 0.9),  # duplicate in the batch: the first row wins
        ("d1", 2, "mem", np.nan),  # NaN after a value: the value stays
        ("d1", 4, "disk", 0.3),  # outside the list: a timestamp slot only
        ("d2", 0, "cpu", 0.2),
        ("d2", 1, "cpu", 0.4),
    ],
    [
        ("d1", 7, "mem", np.nan),  # NaN first, then a value in the batch
        ("d1", 7, "mem", 0.35),
        ("d1", 7, "cpu", 0.7),
        ("d1", 6, "cpu", 0.6),  # out of order
        ("d1", 6, "mem", 0.65),
        ("d1", 5, "mem", 0.55),
        ("d1", 5, "cpu", 0.5),
        ("d1", 3, "cpu", 0.99),  # duplicate across batches: state wins
        ("d2", 2, "cpu", 0.6),
    ],
    [
        ("d1", 8, "cpu", 0.8),
        ("d1", 8, "mem", 0.85),
        ("d1", 7, "mem", 0.1),  # the NaN-first cell keeps its NaN
        ("d1", 0, "cpu", 0.0),  # older than the ring
        ("d1", 0, "mem", 0.0),
        ("d1", 9, "disk", 0.3),
        ("d2", 3, "cpu", 0.8),
    ],
]


def _live_frame(batch):
    return pd.DataFrame(
        {
            "detector_id": [d for d, _, _, _ in batch],
            "ts": [BASE + pd.Timedelta(seconds=t) for _, t, _, _ in batch],
            "metric": [m for _, _, m, _ in batch],
            "value": [float(v) for _, _, _, v in batch],
        }
    )


def _file_stream(spark, src, schema):
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)


@pytest.mark.filterwarnings("ignore")
def test_live_stream_matches_row_list_oracle(spark, tmp_path):
    """Three micro-batches through ``stateful_detector_stream``: every
    emitted row equals the oracle's for that key and batch."""
    src = str(tmp_path / "src")
    for batch in LIVE_BATCHES:  # one file per micro-batch
        spark.createDataFrame(_live_frame(batch)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    got = []

    def sink(df, epoch_id):
        got.extend(
            (epoch_id, r.detector_id, r.end_us, r.mse, r.is_anomaly, r.n_points)
            for r in df.selectExpr(
                "detector_id", "unix_micros(window_end) AS end_us", "mse",
                "is_anomaly", "n_points",
            ).collect()
        )

    schema = spark.read.parquet(src).schema
    q = (
        stateful_detector_stream(
            _file_stream(spark, src, schema), LIVE_METRICS, sequence_length=LIVE_L
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()

    want, states = [], {}
    for epoch, batch in enumerate(LIVE_BATCHES):
        pdf = _live_frame(batch)
        for det, rows in pdf.groupby("detector_id", sort=True):
            state = states.setdefault(det, FakeState())
            _, end, mse, flag, n = _one_row(
                oracle_update, (det,), rows, state, LIVE_METRICS, LIVE_L
            )
            end_us = None if pd.isna(end) else end.value // 1000
            want.append((epoch, det, end_us, mse, flag, n))
    got.sort(key=lambda r: r[:2])
    assert [r[:3] + r[4:] for r in got] == [r[:3] + r[4:] for r in want]
    for g, w in zip(got, want):  # an unscored NaN reaches the sink as null
        assert (g[3] is None and np.isnan(w[3])) or g[3] == w[3], (g, w)
    # d1 scores every batch; the third brings one new aligned step
    assert [(r[2] is not None, r[5]) for r in want if r[1] == "d1"] == [
        (True, 4), (True, 4), (True, 3),
    ]
    assert {r[5] for r in want if r[1] == "d2"} == {0}


# The state layout of the row-list detector, before the compact ring.
ROW_LIST_STATE_SCHEMA = (
    "ts array<timestamp>, metric array<string>, value array<double>"
)


@pytest.mark.filterwarnings("ignore")
def test_row_list_checkpoint_fails_loudly(spark, tmp_path):
    """Resuming a checkpoint written with the row-list state layout fails
    at start with Spark's value-schema check, not with wrong scores."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(_live_frame(LIVE_BATCHES[0])).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def row_list(key, pdfs, state):
        new = pd.concat(list(pdfs), ignore_index=True)
        state.update(
            (list(new["ts"]), list(new["metric"]), [float(v) for v in new["value"]])
        )
        yield pd.DataFrame(
            {"detector_id": [key[0]], "window_end": [pd.NaT], "mse": [float("nan")],
             "is_anomaly": [0], "n_points": [0]}
        )

    old = (
        _file_stream(spark, src, schema)
        .groupBy("detector_id")
        .applyInPandasWithState(
            row_list,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=ROW_LIST_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.foreachBatch(lambda df, eid: df.collect())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    old.awaitTermination(180)
    assert old.exception() is None, old.exception()

    spark.createDataFrame(_live_frame(LIVE_BATCHES[1])).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        q = (
            stateful_detector_stream(
                _file_stream(spark, src, schema), LIVE_METRICS, sequence_length=LIVE_L
            )
            .writeStream.foreachBatch(lambda df, eid: df.collect())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
