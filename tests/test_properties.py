"""Property-based tests (SURVEY §5.5): fill idempotence, scaler
round-trip, window-count law — over hypothesis-generated frames."""

from __future__ import annotations

import datetime
import math

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.operators import fill, scale, windows

# One shared frame shape: (n rows, value-or-null per row)
values = st.lists(
    st.one_of(
        st.none(),
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=60,
)


def _df(spark, vals):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(minutes=173 * i), v) for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "ts timestamp, m double")


@settings(max_examples=12, deadline=None)
@given(vals=values)
def test_ffill_bfill_idempotent_and_null_free(spark, vals):
    df = _df(spark, vals)
    once = fill.ffill_bfill_scalable(df, ["m"])
    twice = fill.ffill_bfill_scalable(once, ["m"])
    a = [r.m for r in once.orderBy("ts").collect()]
    b = [r.m for r in twice.orderBy("ts").collect()]
    assert a == b  # idempotent
    if any(v is not None for v in vals):
        assert all(v is not None for v in a)  # no NULLs survive
    else:
        assert all(v is None for v in a)  # all-null column unchanged


@settings(max_examples=12, deadline=None)
@given(vals=values)
def test_minmax_range_and_roundtrip(spark, vals):
    present = [v for v in vals if v is not None]
    if not present:
        return
    df = _df(spark, vals)
    rows = scale.fit_params(df, ["m"]).collect()
    scaled = scale.scale_data(df, ["m"], "MinMaxScaler", rows)
    out = [r.m for r in scaled.orderBy("ts").collect() if r.m is not None]
    assert all(-1e-9 <= v <= 1 + 1e-9 for v in out)  # range law
    # round-trip: inverse(transform(x)) == x
    lo, hi = min(present), max(present)
    inv = [v * (hi - lo) + lo if hi != lo else v + lo for v in out]
    assert inv == pytest.approx(present, abs=1e-6 * max(1.0, abs(hi)))


@settings(max_examples=10, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=50),
    length=st.integers(min_value=1, max_value=55),
)
def test_window_count_law(spark, n, length):
    df = _df(spark, [float(i) for i in range(n)])
    got = windows.sliding_mean_scalable(df, "m", length).count()
    assert got == max(0, n - length + 1)


@settings(max_examples=8, deadline=None)
@given(vals=values)
def test_standard_scaler_moments(spark, vals):
    present = [v for v in vals if v is not None]
    if len(present) < 2 or len(set(present)) == 1:
        return
    spread = max(present) - min(present)
    if spread < 1e-9 * max(1.0, abs(max(present))):
        # near-degenerate spread: stddev_pop can underflow to exactly 0,
        # correctly taking the sklearn constant-column branch instead
        return
    df = _df(spark, vals)
    rows = scale.fit_params(df, ["m"]).collect()
    out = [
        r.m
        for r in scale.scale_data(df, ["m"], "StandardScaler", rows)
        .orderBy("ts")
        .collect()
        if r.m is not None
    ]
    mean = sum(out) / len(out)
    var = sum((v - mean) ** 2 for v in out) / len(out)
    scale_mag = max(abs(v) for v in present) or 1.0
    assert mean == pytest.approx(0.0, abs=1e-6)
    # population-std scaling -> unit population variance
    assert math.sqrt(var) == pytest.approx(1.0, rel=1e-6)


# ------------------------------------------------------- promql rate

counter_values = st.lists(
    st.floats(min_value=0.0, max_value=1e6,
              allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=50,
)


@settings(max_examples=12, deadline=None)
@given(vals=counter_values)
def test_counter_rate_total_increase_matches_reference(spark, vals):
    """Conservation law over ARBITRARY counter series (random resets
    included): summed bucket increases == the straightforward one-pass
    reference computation, and reset counts agree."""
    from prometheus_anomaly_detection_lstm_spark.operators import promql

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(seconds=137 * i), "m", v, i)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp_ntz, metric string, value double, seq long"
    )
    got = promql.counter_rate(df, bucket_s=600).collect()
    got_inc = sum(r["increase"] for r in got if r["increase"] is not None)
    got_resets = sum(r["n_resets"] for r in got)

    want_inc, want_resets = 0.0, 0
    for prev, cur in zip(vals, vals[1:]):
        if cur >= prev:
            want_inc += cur - prev
        else:
            want_inc += cur
            want_resets += 1
    assert got_resets == want_resets
    # per-bucket round(.,6) before summing: tolerance scales with buckets
    assert got_inc == pytest.approx(want_inc, abs=1e-5 * max(1, len(got)))
    assert sum(r["n_samples"] for r in got) == len(vals)


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False,
                  allow_infinity=False),
        min_size=1,
        max_size=80,
    ),
    alpha=st.sampled_from([0.1, 0.3, 0.7]),
    k=st.sampled_from([1, 3, 10, 200]),
)
def test_ewma_fold_matches_naive_recursion(spark, vals, alpha, k):
    """metric_ewma == the direct K-window recursion for arbitrary
    values, alphas, and truncation horizons (incl. k > n and k = 1)."""
    from prometheus_anomaly_detection_lstm_spark.operators import promql

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(seconds=37 * i), "m", float(v), i)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp_ntz, metric string, value double, seq long"
    )
    got = {
        r.seq: r.ewma
        for r in promql.metric_ewma(df, alpha=alpha, k=k).collect()
    }
    for i in range(len(vals)):
        window = vals[max(0, i - k + 1) : i + 1]
        level = window[0]
        for x in window[1:]:
            level = level * (1 - alpha) + alpha * x
        assert got[i] == pytest.approx(round(level, 6), abs=1e-9), (
            i, alpha, k
        )


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=3, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
)
def test_containment_prefix_complete_on_random_docs(spark, docs, threshold):
    """The one-sided AllPairs prefix candidate generation loses nothing
    on adversarial tiny-vocab corpora (max shingle collision rates)."""
    from prometheus_anomaly_detection_lstm_spark.operators import dedup

    frame = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(frame, threshold=threshold).collect()
    }
    sh = dedup.shingles(frame)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    brute = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), "n"), "doc_a")
        .withColumn("c", F.round(F.col("i") / F.col("n"), 6))
        .filter(F.col("c") >= threshold)
    )
    want = {(r.doc_a, r.doc_b): r.c for r in brute.collect()}
    assert got == want


# ----------------------------- mining/diagnostics family invariants

# Quantized to a 1e-6 grid: a tiny value (hypothesis found the denormal
# 2.2e-308) is a REAL distinct sample until an affine shift absorbs it
# (1.0 + 2.2e-308 == 1.0), which turns a non-degenerate MAD into an
# exact zero and breaks affine-invariance claims that are true over the
# reals.  Quantizing bounds the dynamic range to what the operators
# meet in practice; the properties under test are range-independent.
_series_vals = st.lists(
    st.floats(
        min_value=-1e6,
        max_value=1e6,
        allow_nan=False,
        allow_infinity=False,
        allow_subnormal=False,
    ).map(lambda v: round(v, 6)),
    min_size=1,
    max_size=60,
)


def _series_df(spark, vals):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("m", t0 + datetime.timedelta(minutes=7 * i), i, float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "metric string, ts timestamp, seq long, value double"
    )


@settings(max_examples=10, deadline=None)
@given(vals=_series_vals)
def test_rolling_median_bounded_by_frame_extremes(spark, vals):
    from prometheus_anomaly_detection_lstm_spark.plans import mining

    out = [
        r["roll_median"]
        for r in mining.rolling_median(_series_df(spark, vals))
        .orderBy("seq")
        .collect()
    ]
    for i, med in enumerate(out):
        frame = vals[max(0, i - mining.MEDIAN_FRAME) : i + 1]
        assert min(frame) - 1e-6 <= med <= max(frame) + 1e-6


@settings(max_examples=10, deadline=None)
@given(
    vals=_series_vals,
    shift=st.floats(min_value=-1e5, max_value=1e5, allow_nan=False),
    scale_=st.floats(min_value=0.5, max_value=100.0, allow_nan=False),
)
def test_mad_flags_invariant_under_affine_transform(spark, vals, shift, scale_):
    """Robust z is affine-equivariant: x -> a + b*x (b>0) flags the
    SAME samples (MAD degenerate/empty cases yield no flags both ways)."""
    from prometheus_anomaly_detection_lstm_spark.plans import mining

    base = _series_df(spark, vals)
    flagged0 = {
        r["seq"] for r in mining.mad_outliers(base).collect()
    }
    moved = base.withColumn(
        "value", F.lit(shift) + F.lit(scale_) * F.col("value")
    )
    flagged1 = {
        r["seq"] for r in mining.mad_outliers(moved).collect()
    }
    assert flagged0 == flagged1


@settings(max_examples=8, deadline=None)
@given(vals=st.lists(
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False,
              allow_infinity=False),
    min_size=34, max_size=60,
))
def test_change_points_silent_on_constant_series(spark, vals):
    from prometheus_anomaly_detection_lstm_spark.plans import mining

    n = len(vals)
    const = _series_df(spark, [7.5] * n)
    assert mining.change_points(const).count() == 0
