"""Materialized-waist flagship shape (round-11 verdict task 3).

The production recommendation for 100 TB — persist the prep waist
(calendar'd, filled, MinMax-scaled wide frame) once, score stride-1
windows from the table — must be exactly output-equivalent to the
inline recompute shape, and the DuckDB from-waist twin
(ORACLE_ANOMALY_MSE_FROM_WAIST) must agree on the same parquet.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark import oracles
from prometheus_anomaly_detection_lstm_spark.operators import score
from prometheus_anomaly_detection_lstm_spark.plans import pipeline as P

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def waist_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("waist") / "anomaly_waist.parquet")
    (
        P.preprocessed(spark, SF, keep_day=True)
        .select("ts", "__day", *P.FEATURES)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def _score_from_waist(spark, path):
    waist = spark.read.parquet(path)
    day_counts = spark.createDataFrame(
        waist.groupBy("__day").agg(F.count("*").alias("__n")).collect()
    )
    return score.window_mse(
        waist,
        P.FEATURES,
        P.SEQUENCE_LENGTH,
        day_col="__day",
        day_counts=day_counts,
    ).select("window_id", "start_ts", F.round("mse", 8).alias("mse"))


def test_waist_scoring_equals_inline(spark, waist_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from_waist = _score_from_waist(spark, waist_path)
    inline = P.anomaly_scores(spark, SF)
    a = sorted(map(tuple, from_waist.collect()))
    b = sorted(map(tuple, inline.collect()))
    assert len(a) == len(b) > 0
    assert a == b


def test_waist_duckdb_twin_matches_spark(spark, waist_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW waist AS SELECT * FROM '{waist_path}/*.parquet'"
    )
    duck = sorted(
        con.execute(oracles.ORACLE_ANOMALY_MSE_FROM_WAIST).fetchall()
    )
    spark_rows = sorted(map(tuple, _score_from_waist(spark, waist_path).collect()))
    assert len(duck) == len(spark_rows) > 0
    for (dw, dt, dm), (sw, st, sm) in zip(duck, spark_rows):
        assert dw == sw
        assert dt == st
        assert dm == pytest.approx(sm, abs=1e-8)
