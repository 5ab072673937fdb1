"""Round-11 ADVICE regression pins.

1. cosine_topk_lsh_prebuilt must strip a 'file:' prefix symmetrically
   with build_lsh_index — building and querying with the SAME
   'file:/...' path string must round-trip (the sidecar read used the
   raw path and raised FileNotFoundError).
2. bucket_assign(day_counts=...) contract check: a corrupted injected
   table (wrong count / missing day) must raise when the debug flag is
   on, and the flag must default OFF (no extra execution in the hot
   path).
3. The sf1 events copyshift must refuse a base events table spanning
   >= the 30-day shift (overlapping copies silently change the pivot's
   keep-first semantics): io_tables.replicate raises on a wide base,
   bench's events stamp records the measured span, and the repo
   testdata satisfies the assumption.
4. localCheckpoint sites carry the executor-loss caveat (comment pin).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.operators import similarity, windows


def test_lsh_prebuilt_roundtrips_file_uri(spark, tmp_path):
    emb = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.hash(F.col("id") * (i + 1)) % 1000 / 500.0 - 1.0)
                for i in range(64)
            ]
        ).alias("embedding"),
    )
    path = f"file:{tmp_path}/lsh_idx"
    similarity.build_lsh_index(emb, path, planes=4, tables=2)
    # the bug: the read side did not strip 'file:' -> FileNotFoundError
    out = similarity.cosine_topk_lsh_prebuilt(spark, path, n_queries=3, k=2)
    plain = similarity.cosine_topk_lsh_prebuilt(
        spark, f"{tmp_path}/lsh_idx", n_queries=3, k=2
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


def _tiny_ts_frame(spark):
    return spark.createDataFrame(
        [(f"2024-01-0{d} 00:0{m}:00",) for d in (1, 2) for m in range(5)],
        ["raw"],
    ).select(F.to_timestamp("raw").alias("ts"))


def test_day_counts_check_default_off(spark):
    df = _tiny_ts_frame(spark)
    # wrong counts, flag off: must NOT raise (and must not silently
    # pay the verification pass in production)
    bad = df.select(F.to_date("ts").alias("__day")).distinct().select(
        "__day", F.lit(999).alias("__n")
    )
    windows.bucket_assign(df, 3, day_counts=bad)  # construction only


def test_day_counts_check_catches_corruption(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_DAY_COUNTS", "1")
    df = _tiny_ts_frame(spark)
    good = df.select(F.to_date("ts").alias("__day")).groupBy("__day").agg(
        F.count("*").alias("__n")
    )
    windows.bucket_assign(df, 3, day_counts=good)  # clean: no raise
    bad_count = good.select("__day", (F.col("__n") + 1).alias("__n"))
    with pytest.raises(ValueError, match="day_counts contract"):
        windows.bucket_assign(df, 3, day_counts=bad_count)
    missing_day = good.filter(F.col("__n") < 0)
    with pytest.raises(ValueError, match="day_counts contract"):
        windows.bucket_assign(df, 3, day_counts=missing_day)


def test_sf1_copyshift_guards_base_span(spark, tmp_path, monkeypatch):
    import datetime as dt
    import json
    import sys
    from pathlib import Path

    from prometheus_anomaly_detection_lstm_spark.io_tables import replicate

    t0 = dt.datetime(2024, 1, 1)
    wide = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(days=45))], "event_id bigint, ts timestamp"
    )
    with pytest.raises(ValueError, match="< 30 days"):
        replicate(wide, "events", 10)

    repo = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo))
    try:
        import bench
    finally:
        sys.path.remove(str(repo))
    monkeypatch.setattr(bench, "SF1_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "SF1_BASE", "/root/testdata/sf0.001")
    out = bench._ensure_sf1(spark, "events")
    stamp = json.loads((tmp_path / "events.recipe.json").read_text())
    assert stamp["base_span_days"] < stamp["ts_shift_days"] == 30
    assert out["sf1_events_rows"] == stamp["rows"] == 10 * stamp["base_rows"]


def test_sf01_events_fit_copyshift_assumption(spark):
    """The shipped sf0.1 base must actually satisfy the <30-day span
    the copyshift recipe assumes (the assertion in bench fires on a
    regenerated wider base; this pins today's data)."""
    import os

    from prometheus_anomaly_detection_lstm_spark.io_tables import load_table

    if not os.path.exists("/root/testdata/sf0.1/events.parquet"):
        pytest.skip("sf0.1 testdata not present")
    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    span = ev.agg(F.datediff(F.max("ts"), F.min("ts")).alias("d")).collect()[
        0
    ]["d"]
    assert span < 30


def test_local_checkpoint_sites_document_executor_loss():
    import inspect

    from prometheus_anomaly_detection_lstm_spark.plans import relational, wave5, wave9

    assert "executor" in inspect.getsource(relational).lower()
    for mod in (wave5, wave9):
        assert "Executor-loss caveat" in inspect.getsource(mod)
