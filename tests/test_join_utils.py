"""Co-location and partition-pruning mechanisms: plan shape."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.io_tables import load_table
from prometheus_anomaly_detection_lstm_spark.operators.join_utils import (
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "li_bkt", "l_orderkey", 8)
    write_bucketed(orders, "ord_bkt", "l_orderkey", 8)
    # at sf0.001 Catalyst prefers broadcast; disable it to exercise the
    # co-located sort-merge path a big-table join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "l_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle either side
        expected = li.join(orders, "l_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned writes: a day filter prunes to one partition dir."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").withColumn("dt", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-05")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(dt" in plan, plan[:500]
    assert back.count() == ev.filter(F.col("dt") == "2024-01-05").count()

