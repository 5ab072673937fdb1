"""Matrix-profile pins: exactness vs a brute-force numpy oracle,
partitioning invariance, planted-discord discovery, and the
short-chunk guard."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.io_tables import load_table
from prometheus_anomaly_detection_lstm_spark.operators import matrixprofile as MP

from .conftest import SF_ORACLE


def _brute_profile(x, m, excl):
    """Straight-from-the-definition z-norm matrix profile."""
    k = len(x) - m + 1
    subs = []
    for i in range(k):
        w = np.asarray(x[i : i + m], dtype="float64")
        sd = w.std()
        subs.append((w - w.mean()) / sd if sd > 1e-12 else np.zeros(m))
    prof, nn = np.empty(k), np.empty(k, dtype=int)
    for i in range(k):
        best, arg = np.inf, -1
        for j in range(k):
            if abs(i - j) < excl:
                continue
            d = np.sqrt(((subs[i] - subs[j]) ** 2).sum())
            if d < best:
                best, arg = d, j
        prof[i], nn[i] = best, arg
    return prof, nn


def test_chunk_profile_matches_brute_force():
    rng = np.random.default_rng(3)
    n = 120
    x = np.sin(np.arange(n) / 5.0) + rng.normal(0, 0.05, n)
    x[60:68] += 3.0  # planted discord
    pdf = pd.DataFrame(
        {
            "metric": "m",
            "day": pd.Timestamp("2024-01-01").date(),
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "seq": np.arange(n),
            "value": x,
        }
    )
    got = MP._profile_chunk(pdf, MP.MP_M, topk=5, excl=MP.MP_EXCL)
    prof, nn = _brute_profile(x, MP.MP_M, MP.MP_EXCL)
    order = np.argsort(-prof, kind="stable")[:5]
    assert list(got.disc_idx) == list(order)
    assert got.profile_dist.to_numpy() == pytest.approx(
        np.round(prof[order], 6), abs=1e-6
    )
    assert list(got.nn_idx) == list(nn[order])
    # the planted discord's window is the top hit
    assert 60 - MP.MP_M < got.disc_idx.iloc[0] <= 67


def test_constant_series_is_degenerate_but_defined():
    n = 64
    pdf = pd.DataFrame(
        {
            "metric": "m",
            "day": pd.Timestamp("2024-01-01").date(),
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "seq": np.arange(n),
            "value": np.ones(n),
        }
    )
    got = MP._profile_chunk(pdf, MP.MP_M, topk=3, excl=MP.MP_EXCL)
    assert len(got) == 3
    assert (got.profile_dist == 0.0).all()  # all windows identical


def test_short_chunk_yields_no_rows():
    pdf = pd.DataFrame(
        {
            "metric": "m",
            "day": pd.Timestamp("2024-01-01").date(),
            "ts": pd.date_range("2024-01-01", periods=2 * MP.MP_M - 1, freq="min"),
            "seq": np.arange(2 * MP.MP_M - 1),
            "value": np.random.default_rng(0).normal(size=2 * MP.MP_M - 1),
        }
    )
    assert len(MP._profile_chunk(pdf, MP.MP_M, 3, MP.MP_EXCL)) == 0


def test_distributed_profile_is_partitioning_invariant(spark):
    """At sf0.001 the per-(series, day) chunks are shorter than 2m and
    correctly yield nothing, so this pin runs at the graded sf0.01."""
    base = MP.q_matrix_profile(spark, SF_ORACLE)
    a = base.toPandas().sort_values(["metric", "day", "disc_idx"], ignore_index=True)
    s = (
        load_table(spark, SF_ORACLE, "events")
        .select(
            F.col("event_type").alias("metric"),
            "ts",
            F.col("event_id").alias("seq"),
            "value",
        )
        .repartition(17)
    )
    b = (
        MP.matrix_profile_discords(s)
        .toPandas()
        .sort_values(["metric", "day", "disc_idx"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0
    # every (metric, day) chunk reports at most MP_TOPK discords
    assert a.groupby(["metric", "day"]).size().max() <= MP.MP_TOPK


def test_null_values_are_dropped_not_poisoning():
    n = 100
    x = np.sin(np.arange(n) / 5.0)
    vals = x.copy().astype(object)
    vals[10] = None
    vals[50] = None
    pdf = pd.DataFrame(
        {
            "metric": "m",
            "day": pd.Timestamp("2024-01-01").date(),
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "seq": np.arange(n),
            "value": pd.array([None if v is None else float(v) for v in vals], dtype="Float64"),
        }
    )
    got = MP._profile_chunk(pdf, MP.MP_M, topk=3, excl=MP.MP_EXCL)
    assert len(got) == 3
    assert np.isfinite(got.profile_dist).all()
