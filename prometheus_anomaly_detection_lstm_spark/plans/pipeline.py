"""Composed end-to-end anomaly pipeline over the testdata `events` table.

The reference's domain is a wide metrics frame sampled on a regular time
grid (SURVEY §1.1).  The driver's `events` table is a long event stream
(event_id, ts, user_id, event_type, value, props) — the exact shape of a
raw Prometheus response stream — so the pipeline adapter here treats:

    event_type  ->  metric alias (the config.yaml `queries:` key)
    minute-truncated ts -> the step-aligned sample grid (step = 1 min)
    event_id    ->  provenance order for keep-first dedup (SURVEY H4)

Stages mirror SURVEY §3.1-§3.4: align (pivot) -> calendar features ->
ffill/bfill -> MinMax scale (calendar features scaled too — load-bearing
reference semantics, preprocess_data.py:167-178) -> stride-1 windows ->
stub-autoencoder reconstruction MSE -> threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hour_of_day, weekday_mon0
from ..io_tables import load_table
from ..operators import fill, scale, score
from ..operators.align import metrics_wide, metrics_wide_day_partitioned

#: metric aliases present in the testdata events table (sorted).
METRICS = ["click", "error", "purchase", "signup", "view"]
CALENDAR = ["day_of_week", "hour_of_day"]
#: full feature order — queries + calendar, realtime_detector.py:43-44.
FEATURES = METRICS + CALENDAR
SEQUENCE_LENGTH = 20
#: near the p95 of stub-model MSE on the testdata (the practice config.yaml:113-118
#: documents); the reference ships a hand-tuned 0.0025 (config.yaml:119).
ANOMALY_THRESHOLD = 0.0013


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def events_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> canonical long (ts, metric, value, seq) frame."""
    return load(spark, sf_dir, "events").select(
        F.col("ts"),
        F.col("event_type").alias("metric"),
        F.col("value"),
        F.col("event_id").alias("seq"),
    )


def wide_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collector alignment output: step grid x one column per metric (J1+U3)."""
    return metrics_wide(events_long(spark, sf_dir), METRICS)


def with_calendar(df: DataFrame) -> DataFrame:
    """P4: append day_of_week (Mon=0) and hour_of_day."""
    return df.withColumn("day_of_week", weekday_mon0("ts")).withColumn(
        "hour_of_day", hour_of_day("ts")
    )


def preprocessed(
    spark: SparkSession, sf_dir: str, keep_day: bool = False
) -> DataFrame:
    """collect + preprocess stages: aligned, calendar'd, filled, scaled.

    ``keep_day=True`` threads a shared ``__day`` partition key through
    the day-keyed operators so fill and downstream windowing reuse ONE
    full-data exchange instead of re-shuffling per operator.
    """
    # Day-partitioned pivot: the ONE full-data exchange (day hash) is
    # planned before the pivot aggregation, and the fill summary, the
    # per-row fill window, and window_mse's day buckets all reuse it.
    df = with_calendar(
        metrics_wide_day_partitioned(events_long(spark, sf_dir), METRICS)
    )
    # Fused fit: the fill's day-summary aggregate also carries each
    # feature's global min/max (fill never changes a column's value
    # SET, so pre-fill == post-fill extrema), making the scale step a
    # pure projection.  The unfused form (fit_params over the filled
    # frame, then scale_data) executes the whole pivot->fill subtree
    # twice — once under the fit aggregation, once for the transform.
    df = fill.ffill_bfill_scalable(
        df, METRICS, day_col="__day", attach_minmax=FEATURES
    )
    df = scale.minmax_project(df, FEATURES)
    return df if keep_day else df.drop("__day")


def pivot_day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(``__day``, ``__n``): the preprocessed frame's per-day row
    counts, computed from the RAW events scan in one shallow agg.

    The prep chain is row-preserving after the pivot (fill and scale
    are projections), so its per-day cardinality equals the pivot's
    distinct (day, minute) keys — which this derives without executing
    pivot->fill->scale.  Passed to ``window_mse(day_counts=...)`` so
    bucket_assign's three summary subtrees read a one-scan aggregate
    instead of re-executing the whole chain each (round-11 A/B at sf1:
    hash-identical, warm 6.73 -> 4.61 s; at lake scale the three
    rebuilds are three full lake reads, so the inequality only grows).
    """
    return (
        events_long(spark, sf_dir)
        .select(F.date_trunc("minute", "ts").alias("__ts"))
        .withColumn("__day", F.to_date("__ts"))
        .distinct()
        .groupBy("__day")
        .agg(F.count("*").alias("__n"))
    )


def anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per stride-1 window, the stub-model reconstruction MSE.

    The exact question filter_anomalous_data.py answers (:112-156):
    "which 20-step windows are anomalous and what is each window's MSE?"
    """
    df = preprocessed(spark, sf_dir, keep_day=True)
    out = score.window_mse(
        df, FEATURES, SEQUENCE_LENGTH, day_col="__day",
        day_counts=pivot_day_counts(spark, sf_dir),
    )
    return out.select(
        "window_id", "start_ts", F.round("mse", 8).alias("mse")
    )


def anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagged windows: mse + is_anomaly bit (P7)."""
    df = preprocessed(spark, sf_dir, keep_day=True)
    out = score.window_mse(
        df, FEATURES, SEQUENCE_LENGTH, day_col="__day",
        day_counts=pivot_day_counts(spark, sf_dir),
    )
    return out.select(
        "window_id",
        "start_ts",
        F.round("mse", 8).alias("mse"),
        (F.col("mse") > F.lit(ANOMALY_THRESHOLD)).cast("bigint").alias("is_anomaly"),
    )


def anomaly_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge consecutive anomalous windows into alert EPISODES — the
    gaps-and-islands rollup the reference's per-cycle flags imply but
    never compute (an operator fires one alert per incident, not one
    per 2-minute window).

    Island key = window_id - rank within the flagged subset (classic
    consecutive-run grouping over the already-global window index from
    windows.bucket_assign — no new global sort).  The rank window runs
    single-partition ON THE FLAGGED SUBSET ONLY: anomalous windows are
    alert volume (rare by construction of the threshold), i.e.
    metadata scale like the per-day summaries; a regime where flags are
    dense enough to matter would day-bucket the rank with a broadcast
    carry exactly like operators/fill.py.

    Output per episode: first/last window id, window count, episode
    start timestamp, peak MSE.
    """
    from ..functions import single_partition_key

    flags = anomaly_flags(spark, sf_dir)
    anom = flags.filter(F.col("is_anomaly") == 1)
    w = Window.partitionBy(single_partition_key("window_id")).orderBy(
        "window_id"
    )
    grp = F.col("window_id") - F.row_number().over(w)
    return (
        anom.withColumn("__g", grp)
        .groupBy("__g")
        .agg(
            F.min("window_id").alias("first_window_id"),
            F.max("window_id").alias("last_window_id"),
            F.count("*").alias("n_windows"),
            F.min("start_ts").alias("start_ts"),
            F.round(F.max("mse"), 8).alias("peak_mse"),
        )
        .drop("__g")
    )
