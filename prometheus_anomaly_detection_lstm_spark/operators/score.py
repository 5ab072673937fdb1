"""Reconstruction-error scoring (SURVEY §2.5-A6/A7/A8/A9/A11, §2.2-P7).

Reference semantics:
* per-window MSE = mean((X - X̂)²) over BOTH the time and feature axes
  (train_autoencoder.py:278, filter_anomalous_data.py:138,
  realtime_detector.py:303-304);
* per-feature MSE = mean over the time axis only
  (realtime_detector.py:309-311);
* threshold split normal/anomalous (filter_anomalous_data.py:142-146);
  the P8 split that writes the two sets is ``cli.cmd_filter``;
* 50-bin density histogram of errors (train_autoencoder.py:280-292);
* percentile threshold suggestion (config.yaml:113-118, doc-only there —
  implemented for real here, A11).

Key scale insight: because the stub reconstruction is row-local (see
ml/autoencoder.py), MSE over a window factors into
``sliding_mean(per-row feature-mean error)`` — so scoring never
materializes the O(n·L·F) window tensor the reference builds
(train_autoencoder.py:71-74).  The whole score pipeline is Catalyst
expressions + one window pass over a scalar column.  For non-factoring
models (the real LSTM), scoring drops to an Arrow-batched
``mapInPandas`` over the windows DataFrame with broadcast weights
(ml/infer.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import clip01, single_partition_key
from ..ml.autoencoder import STUB
from .windows import sliding_mean_scalable


def row_error(
    df: DataFrame,
    feature_cols: list[str],
    a: float = STUB.a,
    b: float = STUB.b,
    err_col: str = "row_err",
) -> DataFrame:
    """Per-row mean over features of (x - clip01(a·x + b))² — stub model X̂.

    Deterministic scorer (SURVEY H5 / FIXTURES F6): reconstruction is an
    exactly reproducible affine map so the oracle can recompute the MSE
    in pure SQL.
    """
    # whole scorer as ONE parsed expression: a per-feature Column chain
    # is ~7 py4j round-trips per feature (~90 ms of plan-construction
    # latency per query submission); the SQL string is one
    terms = " + ".join(
        f"power(`{c}` - least(greatest(`{c}` * {a!r}D + {b!r}D, 0.0D),"
        f" 1.0D), 2.0D)"
        for c in feature_cols
    )
    return df.withColumn(
        err_col, F.expr(f"({terms}) / {float(len(feature_cols))!r}D")
    )


def window_mse(
    df: DataFrame,
    feature_cols: list[str],
    length: int,
    ts_col: str = "ts",
    a: float = STUB.a,
    b: float = STUB.b,
    day_col: str | None = None,
    day_counts: DataFrame | None = None,
) -> DataFrame:
    """A6: (window_id, start_ts, mse) for every full stride-1 window.

    ``day_counts``: optional shallow (``__day``, ``__n``) source for
    the bucketing summary (see ``windows.bucket_assign``) — callers on
    a row-preserving chain over a pivot pass the pivot input's distinct
    key counts so the summary subtrees skip re-executing the chain.
    """
    scored = row_error(df, feature_cols, a, b)
    sel = [ts_col, "row_err"] + ([day_col] if day_col else [])
    out = sliding_mean_scalable(
        scored.select(*sel), "row_err", length, ts_col, day_col=day_col,
        day_counts=day_counts,
    )
    return out.withColumnRenamed("row_err", "mse")


def per_feature_mse(
    df: DataFrame,
    feature_cols: list[str],
    a: float = STUB.a,
    b: float = STUB.b,
) -> DataFrame:
    """A8: global per-feature mean squared reconstruction error.

    Long output (feature, mse) — the shape the labeled exporter gauge
    consumes (realtime_detector.py:309-321 exports one gauge sample per
    feature name).
    """
    aggs = [
        F.avg(F.pow(F.col(c) - clip01(F.col(c) * a + b), F.lit(2.0))).alias(c)
        for c in feature_cols
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c}', {c}" for c in feature_cols)
    return wide.selectExpr(
        f"stack({len(feature_cols)}, {stack}) AS (feature, mse)"
    )


def threshold_split(mse_df: DataFrame, threshold: float) -> DataFrame:
    """P7 + A9: flag windows and count normal vs anomalous.

    Output (is_anomaly BIGINT, n BIGINT, pct DOUBLE) — the filter
    outcome summary of filter_anomalous_data.py:148-156.
    """
    flagged = mse_df.withColumn(
        "is_anomaly", (F.col("mse") > F.lit(threshold)).cast("bigint")
    )
    # 2-row frame (normal/anomalous): constant key = deliberate single
    # partition, silences the big-table WindowExec warning
    total = Window.partitionBy(single_partition_key("is_anomaly"))
    return (
        flagged.groupBy("is_anomaly")
        .agg(F.count("*").alias("n"))
        .withColumn("pct", F.col("n") / F.sum("n").over(total) * 100.0)
    )


def mse_histogram(mse_df: DataFrame, bins: int = 50) -> DataFrame:
    """A7: fixed-bin histogram of window MSE (train_autoencoder.py:280-292).

    (bucket BIGINT, n BIGINT) with ``bucket = floor((x-min)/width)``,
    top edge clamped into the last bin (matplotlib hist semantics).
    Bounds come from one global agg broadcast back — two scans, no
    driver collect of the data.
    """
    bounds = mse_df.agg(
        F.min("mse").alias("__lo"), F.max("mse").alias("__hi")
    )
    joined = mse_df.crossJoin(F.broadcast(bounds))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("mse") - F.col("__lo")) / width),
            F.lit(bins - 1),
        )
    )
    return (
        joined.withColumn("bucket", bucket.cast("bigint"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def threshold_percentiles(mse_df: DataFrame) -> DataFrame:
    """A11: exact 95th/99th percentile of window MSE (config.yaml:113-118).

    Exact ``percentile`` (linear interpolation — matches DuckDB
    ``quantile_cont`` and NumPy default); switch to percentile_approx
    only when the error distribution no longer fits an exact pass.
    """
    return mse_df.agg(
        F.percentile("mse", 0.95).alias("p95"),
        F.percentile("mse", 0.99).alias("p99"),
    )
