"""Stride-1 sliding-window sequence construction (SURVEY §2.6-W2, H1).

Reference: ``xs[i] = data[i:i+L]`` for ``i in [0, n-L]``
(train_autoencoder.py:61-74, duplicated filter_anomalous_data.py:57-67);
empty when ``n < L``.

Two implementations with identical results:

* :func:`sequence_windows` — window-frame ``collect_list`` over the
  global timestamp order.  Correct anywhere, but an unpartitioned
  ORDER BY collapses to one task — use for small frames / per-key
  already-partitioned data.

* :func:`sequence_windows_scalable` — the 100-TB path.  Rows are hashed
  to calendar-day buckets; each day's first L-1 rows are ALSO shipped to
  the previous day as overlap (a second, cheap shuffle of only L-1 rows
  per boundary), then windows are built per-day in parallel with
  ``applyInPandas``.  Only windows STARTING on a native (non-overlap)
  row are emitted, so every stride-1 window appears exactly once.

Rather than materializing the O(n·L·F) tensor (the reference's 20×
memory amplification, SURVEY §4-O8), downstream scoring composes the
per-row error first and windows the scalar — see operators/score.py.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import single_partition_key


def sequence_windows(
    df: DataFrame, feature_cols: list[str], length: int, ts_col: str = "ts"
) -> DataFrame:
    """W2 via window frame: (window_id, start_ts, features ARRAY<ARRAY<DOUBLE>>)."""
    row = F.array(*[F.col(c).cast("double") for c in feature_cols])
    w = Window.orderBy(ts_col).rowsBetween(0, length - 1)
    return (
        df.withColumn("__row", row)
        .withColumn("features", F.collect_list("__row").over(w))
        .withColumn(
            "window_id",
            F.row_number().over(Window.orderBy(ts_col)).cast("bigint") - 1,
        )
        .filter(F.size("features") == length)
        .select(
            "window_id", F.col(ts_col).alias("start_ts"), "features"
        )
    )


def bucket_assign(
    df: DataFrame,
    length: int,
    ts_col: str = "ts",
    direction: str = "forward",
    day_col: str | None = None,
    day_counts: DataFrame | None = None,
) -> DataFrame:
    """Ship every row to each day-bucket whose L-windows can reach it.

    The shared scale primitive behind the window operators.  Adds:
      __g          global 0-based row index (day offset + in-day rank —
                   no global row-numbering pass)
      __bucket     owning calendar day (one output row per covering day)
      __is_native  row belongs to __bucket (vs shipped as overlap)

    ``direction="forward"`` covers windows STARTING at each native row
    (needs the L-1 global successors); ``"backward"`` covers windows
    ENDING at each native row (needs the L-1 predecessors — trailing
    rolling features).

    Physical shape: the per-day summary (count + cumulative offset) is
    metadata-scale.  It is never collected: it stays a lazy broadcast,
    read by three subtrees (the ``__g`` offset join and both sides of
    the coverage mapping), each of which rebuilds it (see
    ``day_counts``).  It is turned into an explicit
    (source day -> covering bucket) mapping joined EQUI on the day — a
    broadcast HASH join touching each row ~once per covering bucket
    (K ~= 2 for dense days).  A range-join formulation would plan as a
    broadcast nested loop: O(rows x days), which dies at 100 TB with
    tens of thousands of day buckets.
    """
    if day_col is not None:
        with_day = df.withColumnRenamed(day_col, "__day")
    else:
        with_day = df.withColumn("__day", F.to_date(F.col(ts_col)))

    # The per-day summary feeds THREE subtrees (the __g offset join and
    # both sides of the coverage mapping) — each recompiles its build
    # side from df's full lineage, because column pruning specializes
    # the scans and defeats ReuseExchange.  When df sits on a deep
    # chain (the anomaly pipeline: pivot->fill->scale), that is 3 full
    # re-executions of the chain per run.  ``day_counts`` lets such a
    # caller inject the SAME (day -> row count) table computed from a
    # shallow equivalent source (row-preserving chains over a pivot
    # derive it from the pivot's input in one scan+agg).  CONTRACT:
    # exactly one row per distinct __day of df, __n = that day's df row
    # count — offsets, ranks and coverage all assume it (round-11
    # interleaved A/B at sf1: hash-identical, warm 6.73 -> 4.61 s).
    if day_counts is not None:
        counts = day_counts.select("__day", "__n")
        # Debug-mode contract check (ADVICE r11): a non-row-preserving
        # step slipped into the caller's prep chain would silently
        # corrupt every offset/window id.  Opt-in because it executes
        # both chains — set SPARK_GRAFT_DEBUG_DAY_COUNTS=1 in a
        # validation run.
        if os.environ.get("SPARK_GRAFT_DEBUG_DAY_COUNTS", "") not in ("", "0"):
            derived = with_day.groupBy("__day").agg(
                F.count("*").alias("__n_actual")
            )
            bad = (
                counts.join(derived, "__day", "full_outer")
                .filter(
                    F.col("__n").isNull()
                    | F.col("__n_actual").isNull()
                    | (F.col("__n") != F.col("__n_actual"))
                )
                .limit(5)
                .collect()
            )
            if bad:
                raise ValueError(
                    "day_counts contract broken (one row per distinct "
                    f"__day, __n = that day's row count): {bad}"
                )
    else:
        counts = with_day.groupBy("__day").agg(F.count("*").alias("__n"))
    # metadata-scale (~#days rows): constant partition key is deliberate
    w_days = (
        Window.partitionBy(single_partition_key("__day"))
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summary = counts.select(
        "__day",
        "__n",
        F.coalesce(F.sum("__n").over(w_days), F.lit(0)).alias("__offset"),
    )

    # deterministic tie-breaker for duplicate timestamps within a day:
    # pipeline inputs have distinct ts (pivot output), but
    # rolling_features / sliding_mean_scalable accept arbitrary frames —
    # a content hash keeps window membership/ids stable across runs
    # (identical rows may still swap ranks, which leaves every window's
    # CONTENT unchanged)
    tie = F.hash(*[F.col(c) for c in with_day.columns])
    w_in_day = Window.partitionBy("__day").orderBy(ts_col, tie)
    base_cols = with_day.columns
    # single select fuses rank -> global index -> column pruning: every
    # extra withColumn/drop on the (potentially deep) input plan is a
    # full re-analysis pass — construction latency, not execution
    ranked = (
        with_day.withColumn("__rk", F.row_number().over(w_in_day))
        .join(F.broadcast(summary), "__day")
        .select(
            *base_cols,
            (F.col("__offset") + F.col("__rk") - 1).alias("__g"),
        )
    )

    # Coverage mapping built summary x summary (days x days, broadcast,
    # lazy): day s ships rows to every bucket whose coverage interval
    # intersects s's rows.  forward: [offset_b, offset_b + n_b + L - 2];
    # backward: [offset_b - (L-1), offset_b + n_b - 1].  The range
    # condition only ever touches the metadata-scale summary; the
    # row-side join below stays a broadcast HASH equi-join on the day.
    src = summary.select(
        F.col("__day").alias("src_day"),
        F.col("__offset").alias("__src_offset"),
        (F.col("__offset") + F.col("__n")).alias("__src_end"),
    )
    if direction == "forward":
        cov_lo = F.col("__offset")
        cov_hi_excl = F.col("__offset") + F.col("__n") + length - 1
    else:
        cov_lo = F.col("__offset") - (length - 1)
        cov_hi_excl = F.col("__offset") + F.col("__n")
    bkt = summary.select(
        F.col("__day").alias("__bucket"),
        cov_lo.alias("__cov_lo"),
        cov_hi_excl.alias("__cov_hi"),
    )
    mapping = src.join(
        F.broadcast(bkt),
        (F.col("__cov_hi") > F.col("__src_offset"))
        & (F.col("__cov_lo") < F.col("__src_end")),
    ).select("src_day", "__bucket", "__cov_lo", "__cov_hi")
    # equi key + range bounds in ONE join condition: Catalyst still
    # plans the broadcast HASH join on the day key and evaluates the
    # range bounds as the join's post-condition (same physical plan as
    # join->filter, two fewer plan-construction passes)
    return ranked.join(
        F.broadcast(mapping),
        (ranked["__day"] == mapping["src_day"])
        & (F.col("__g") >= F.col("__cov_lo"))
        & (F.col("__g") < F.col("__cov_hi")),
    ).select(
        *[c for c in ranked.columns if c != "__day"],
        "__bucket",
        (F.col("__day") == F.col("__bucket")).alias("__is_native"),
    )


def sequence_windows_scalable(
    df: DataFrame,
    feature_cols: list[str],
    length: int,
    ts_col: str = "ts",
    day_col: str | None = None,
    day_counts: DataFrame | None = None,
) -> DataFrame:
    """W2 at scale: day-bucketed build with cross-day boundary overlap.

    No global row-numbering pass: each row's global index is its rank
    within its calendar day plus the day's offset (cumulative prior-day
    counts, computed on the tiny per-day summary).  A row with global
    index g is shipped to every day-bucket whose windows can reach it —
    ``offset_d <= g < offset_d + n_d + L - 1`` — via a broadcast range
    join against the per-day summary, so overlap spanning ANY number of
    sparse days is handled (not just the adjacent day).  Window ids are
    the global 0-based start-row offsets; each stride-1 window is built
    exactly once, in the bucket where its start row is native.
    ``day_col``/``day_counts`` pass through to ``bucket_assign`` (same
    contract) so callers on a row-preserving chain over a pivot reuse
    the chain's day exchange and skip the summary-subtree rebuilds.
    """
    sel = [F.col(ts_col), *[F.col(c).cast("double") for c in feature_cols]]
    if day_col is not None:
        sel.append(F.col(day_col))
    both = bucket_assign(
        df.select(*sel),
        length,
        ts_col,
        day_col=day_col,
        day_counts=day_counts,
    )

    schema = "window_id bigint, start_ts timestamp, features array<array<double>>"

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        # __g is the unique global row index — ordering by it keeps
        # window contents deterministic even with duplicate timestamps
        pdf = pdf.sort_values(["__g"]).reset_index(drop=True)
        vals = pdf[feature_cols].to_numpy()
        n = len(pdf)
        out_id, out_ts, out_feat = [], [], []
        for i in range(n):
            if bool(pdf["__is_native"].iloc[i]) and i + length <= n:
                out_id.append(int(pdf["__g"].iloc[i]))
                out_ts.append(pdf[ts_col].iloc[i])
                out_feat.append(vals[i : i + length].tolist())
        if not out_id:  # empty bucket: keep Arrow-castable dtypes
            return pd.DataFrame(
                {
                    "window_id": pd.Series(dtype="int64"),
                    "start_ts": pd.Series(dtype="datetime64[us]"),
                    "features": pd.Series(dtype="object"),
                }
            )
        return pd.DataFrame(
            {"window_id": out_id, "start_ts": out_ts, "features": out_feat}
        )

    return both.groupBy("__bucket").applyInPandas(build, schema)


def sliding_mean(
    df: DataFrame, value_col: str, length: int, ts_col: str = "ts"
) -> DataFrame:
    """Mean of ``value_col`` over each full stride-1 window of ``length`` rows.

    The windowed-scalar core used by scoring (per-window MSE = sliding
    mean of the per-row error — see operators/score.py).  Global-order
    frame variant; day-partitioned overlap variant available via
    :func:`sequence_windows_scalable` composition at scale.

    Input contract: ``value_col`` is NON-NULL (scoring feeds post-fill
    frames).  The ``count(value) == length`` filter therefore checks
    frame completeness AND doubles as a leaked-NULL tripwire — a
    window containing a NULL is dropped, deliberately, rather than
    averaged over fewer points (the reference's fixed-shape sequence
    tensors have no missing-entry semantics to mimic).
    """
    w_frame = Window.orderBy(ts_col).rowsBetween(0, length - 1)
    w_rank = Window.orderBy(ts_col)
    return (
        df.withColumn("__cnt", F.count(value_col).over(w_frame))
        .withColumn("__avg", F.avg(value_col).over(w_frame))
        .withColumn("window_id", F.row_number().over(w_rank).cast("bigint") - 1)
        .filter(F.col("__cnt") == length)
        .select(
            "window_id",
            F.col(ts_col).alias("start_ts"),
            F.col("__avg").alias(value_col),
        )
    )


def sliding_mean_scalable(
    df: DataFrame,
    value_col: str,
    length: int,
    ts_col: str = "ts",
    day_col: str | None = None,
    day_counts: DataFrame | None = None,
) -> DataFrame:
    """:func:`sliding_mean` without the global single-partition sort.

    Pure Catalyst at scale: rows are day-bucketed with cross-day overlap
    (:func:`bucket_assign`), then the L-row frame runs PARTITIONED BY
    bucket — overlap rows complete the boundary windows, only
    native-start full windows are emitted, and the window id is the
    row's global index.  No Python, no driver loop, no global sort.
    """
    cols = [F.col(ts_col), F.col(value_col)]
    if day_col is not None:
        cols.append(F.col(day_col))
    both = bucket_assign(
        df.select(*cols), length, ts_col, day_col=day_col,
        day_counts=day_counts,
    )
    # frames order by __g (unique global index): consistent with window
    # ids even when timestamps repeat
    w_frame = (
        Window.partitionBy("__bucket")
        .orderBy("__g")
        .rowsBetween(0, length - 1)
    )
    return (
        both.withColumn("__cnt", F.count(value_col).over(w_frame))
        .withColumn("__avg", F.avg(value_col).over(w_frame))
        .filter(F.col("__is_native") & (F.col("__cnt") == length))
        .select(
            F.col("__g").alias("window_id"),
            F.col(ts_col).alias("start_ts"),
            F.col("__avg").alias(value_col),
        )
    )


def rolling_features(
    df: DataFrame,
    value_cols: list[str],
    length: int,
    ts_col: str = "ts",
    day_counts: DataFrame | None = None,
) -> DataFrame:
    """Trailing-window feature engineering: mean/min/max over the last
    ``length`` rows (including current) per column.

    The standard ML-feature op over a time series — built on
    ``bucket_assign(direction="backward")`` so the trailing frame never
    needs a global sort; partial leading windows emit with whatever
    history exists (pandas ``rolling(min_periods=1)`` semantics).
    ``day_counts`` passes through to ``bucket_assign`` (same contract)
    so callers on a row-preserving chain over a pivot skip the three
    summary-subtree chain rebuilds.
    """
    both = bucket_assign(
        df.select(F.col(ts_col), *value_cols),
        length,
        ts_col,
        direction="backward",
        day_counts=day_counts,
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy("__g")
        .rowsBetween(-(length - 1), 0)
    )
    aggs = []
    for c in value_cols:
        aggs += [
            F.avg(c).over(w).alias(f"{c}_mean"),
            F.min(c).over(w).alias(f"{c}_min"),
            F.max(c).over(w).alias(f"{c}_max"),
        ]
    return (
        both.select(ts_col, "__is_native", *value_cols, *aggs)
        .filter(F.col("__is_native"))
        .drop("__is_native")
    )
