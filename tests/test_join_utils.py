"""Partition pruning: plan shape.  (The bucketed-join co-location plan
is checked in ``test_bucketed_join.py``.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.io_tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned writes: a day filter prunes to one partition dir."""
    ev = load_table(spark, SF, "events").withColumn("dt", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-05")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(dt" in plan, plan[:500]
    assert back.count() == ev.filter(F.col("dt") == "2024-01-05").count()
