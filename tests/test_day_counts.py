"""day_counts injection (round 11): the bucketing summary computed
from a shallow source must be EXACTLY the frame the deep chain would
derive — offsets, ranks, coverage and therefore every window id and
value identical."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import prometheus_anomaly_detection_lstm_spark.plans.pipeline as P
from prometheus_anomaly_detection_lstm_spark.operators import score

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_pivot_day_counts_matches_prep_distribution(spark):
    dc = _rows(P.pivot_day_counts(spark, SF))
    prep = P.preprocessed(spark, SF, keep_day=True)
    derived = _rows(
        prep.groupBy("__day").agg(F.count("*").alias("__n"))
    )
    assert dc == derived


def test_day_counts_window_mse_equals_derived(spark):
    prep = P.preprocessed(spark, SF, keep_day=True)
    with_dc = score.window_mse(
        prep, P.FEATURES, P.SEQUENCE_LENGTH,
        day_col="__day", day_counts=P.pivot_day_counts(spark, SF),
    )
    without = score.window_mse(
        prep, P.FEATURES, P.SEQUENCE_LENGTH,
        day_col="__day",
    )
    assert _rows(with_dc) == _rows(without)


def test_anomaly_scores_scan_count_shrinks(spark):
    """The point of the injection: the executed flagship plan should
    re-scan the events parquet far fewer times than the 16 the
    recompute shape paid (the summary subtrees' rebuilds collapse to
    shallow scan+agg)."""
    plan = P.anomaly_scores(spark, SF)._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("Scan parquet")
    assert scans <= 10, f"{scans} parquet scans in the flagship plan"


def test_injected_counts_on_hostile_day_shapes(spark):
    """Contract robustness: injected counts must reproduce the derived
    bucketing on day layouts the pipeline never produces — multi-day
    gaps (overlap spans several sparse days), a single-row day, and
    duplicate timestamps within a day (rank tie-breaker)."""
    import datetime as dt

    from pyspark.sql import functions as SF_  # noqa: N812

    from prometheus_anomaly_detection_lstm_spark.operators.windows import (
        sliding_mean_scalable,
    )

    rows = []
    # day 1: 7 rows incl. a duplicate-ts pair; day 2 missing entirely;
    # day 4: single row; days 5-6: enough rows to close windows
    def ts(day, minute):
        return dt.datetime(2024, 3, day, 10, minute)

    for m in [0, 1, 1, 2, 3, 4, 5]:
        rows.append((ts(1, m), float(m)))
    rows.append((ts(4, 0), 100.0))
    for m in range(6):
        rows.append((ts(5, m), float(10 + m)))
    for m in range(4):
        rows.append((ts(6, m), float(50 + m)))
    df = spark.createDataFrame(rows, "ts timestamp, v double")

    derived = sliding_mean_scalable(df, "v", 5)
    counts = (
        df.withColumn("__day", SF_.to_date("ts"))
        .groupBy("__day")
        .agg(SF_.count("*").alias("__n"))
    )
    injected = sliding_mean_scalable(df, "v", 5, day_counts=counts)
    got_d, got_i = _rows(derived), _rows(injected)
    assert got_d == got_i
    # sanity: every full window emitted (18 rows -> 14 windows)
    assert len(got_i) == 14
