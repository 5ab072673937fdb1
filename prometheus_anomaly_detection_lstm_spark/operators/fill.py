"""NaN-handling strategies (SURVEY §2.5-A1/A2/A3, §2.6-W1).

The reference's ``handle_missing_values`` (preprocess_data.py:41-75)
supports ``ffill_then_bfill`` (default), ``mean``, ``median``,
``drop_rows``, ``none``; unknown strategy is a no-op.

Scale design (SURVEY H1): ffill/bfill are defined over the TOTAL
timestamp order.  A naive ``Window.orderBy(ts)`` with no partitioning
collapses to one task.  ``ffill_bfill_scalable`` keeps the data
day-partitioned: per-day boundary values are aggregated (tiny — one row
per day), the cross-day "carry" is computed with a window over that
small summary, broadcast-joined back, and the heavy per-row pass runs
as a day-partitioned window.  Identical results, no global single
partition on the big table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def nan_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """A1: per-column NULL count (preprocess_data.py:44, :72-74)."""
    return df.agg(
        *[F.sum(F.col(c).isNull().cast("bigint")).alias(c) for c in cols]
    )


def fill_mean(df: DataFrame, cols: list[str]) -> DataFrame:
    """A2: fill each column's NULLs with its mean (preprocess_data.py:48-55).

    Global agg -> tiny one-row frame -> broadcast cross join -> coalesce:
    two map stages plus one all-to-one exchange; never a per-column
    driver loop with collect.
    """
    means = df.agg(*[F.avg(c).alias(f"__mean_{c}") for c in cols])
    out = df.crossJoin(F.broadcast(means))
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__mean_{c}")))
    return out.drop(*[f"__mean_{c}" for c in cols])


def fill_median(df: DataFrame, cols: list[str]) -> DataFrame:
    """A3: fill with exact median (preprocess_data.py:56-62).

    Exact ``median`` (Spark >= 3.4) — exactness matters for oracle
    parity; swap for percentile_approx only when scale demands.
    """
    meds = df.agg(*[F.expr(f"median({c})").alias(f"__med_{c}") for c in cols])
    out = df.crossJoin(F.broadcast(meds))
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__med_{c}")))
    return out.drop(*[f"__med_{c}" for c in cols])


def drop_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """``drop_rows`` strategy: drop any row with a NULL metric."""
    return df.na.drop(subset=cols)


def ffill_bfill(df: DataFrame, cols: list[str], ts_col: str = "ts") -> DataFrame:
    """W1 (reference-faithful, small scale): global-order ffill then bfill.

    ``df.ffill().bfill()`` at preprocess_data.py:46-47 — interior NULLs
    take the last prior value, leading NULLs the first following value.
    Uses an unpartitioned window: correct at any size but single-task;
    prefer :func:`ffill_bfill_scalable` on big tables.

    Both passes are RUNNING frames (UNBOUNDED PRECEDING .. CURRENT ROW,
    the backward one over a descending sort): Spark evaluates running
    frames incrementally in O(n), whereas an UNBOUNDED FOLLOWING frame
    with ``first(ignorenulls)`` degrades to O(n²) re-scans.
    """
    w_back = Window.orderBy(F.col(ts_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_rev = Window.orderBy(F.col(ts_col).desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ff = df.select(
        *[c for c in df.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w_back).alias(c) for c in cols],
    )
    return ff.select(
        *[c for c in ff.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w_rev).alias(c) for c in cols],
    )


def ffill_bfill_scalable(
    df: DataFrame,
    cols: list[str],
    ts_col: str = "ts",
    day_col: str | None = None,
    attach_minmax: list[str] | None = None,
) -> DataFrame:
    """W1 at scale: day-partitioned fill with broadcast cross-day carry.

    Three steps, none requiring a global single partition:
      1. per-day last/first non-null value per column (one shuffle over
         ~#days keys; summary is tiny);
      2. running carry across days on the summary (window over a frame
         of #days rows — negligible);
      3. per-row fill with a window PARTITIONED BY day, seeded by the
         broadcast carry for values crossing midnight.
    Result is identical to the global two-pass fill.

    ``day_col``: name of a pre-existing calendar-day column.  When given
    it is used as the partition key AND kept in the output, so a
    pipeline of day-keyed operators (fill -> window -> score) shuffles
    the full data ONCE and every later operator reuses the exchange
    (Catalyst recognizes satisfied ClusteredDistribution only for the
    same attribute).

    ``attach_minmax``: columns whose GLOBAL min/max should ride along as
    ``__lo_{c}`` / ``__hi_{c}`` output columns.  ffill/bfill only copies
    values that already exist (non-nulls are never overwritten), so the
    post-fill min/max equals the pre-fill min/max — which this computes
    for free on the summary aggregate's existing shuffle instead of a
    second full pass over the filled frame.  Lets a downstream scaler be
    a pure projection (the pivot->fill subtree would otherwise execute
    twice: once under the fit aggregation, once for the transform).
    """
    mm = attach_minmax or []
    if day_col is not None:
        with_day = df.withColumnRenamed(day_col, "__day")
    else:
        with_day = df.withColumn("__day", F.to_date(F.col(ts_col)))

    summary = with_day.groupBy("__day").agg(
        *[
            F.expr(f"max_by({c}, CASE WHEN {c} IS NOT NULL THEN {ts_col} END)").alias(
                f"__last_{c}"
            )
            for c in cols
        ],
        *[
            F.expr(f"min_by({c}, CASE WHEN {c} IS NOT NULL THEN {ts_col} END)").alias(
                f"__first_{c}"
            )
            for c in cols
        ],
        *[F.min(c).alias(f"__dmin_{c}") for c in mm],
        *[F.max(c).alias(f"__dmax_{c}") for c in mm],
    )
    # Window expressions as single parsed strings (one py4j round-trip
    # each instead of ~4): this select alone was ~200 ms of plan
    # construction with the Column-chain form.  The pmod(hash(...), 1)
    # key is single_partition_key's non-foldable constant (metadata-
    # scale frame, deliberate single partition — see functions/).
    meta = "PARTITION BY pmod(hash(__day), 1)"
    w_prev = f"OVER ({meta} ORDER BY __day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    w_next = f"OVER ({meta} ORDER BY __day ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    w_all = f"OVER ({meta} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    carry = summary.select(
        "__day",
        *[
            F.expr(f"last(`__last_{c}`, true) {w_prev}").alias(f"__carry_{c}")
            for c in cols
        ],
        *[
            F.expr(f"first(`__first_{c}`, true) {w_next}").alias(f"__lead_{c}")
            for c in cols
        ],
        *[F.expr(f"min(`__dmin_{c}`) {w_all}").alias(f"__lo_{c}") for c in mm],
        *[F.expr(f"max(`__dmax_{c}`) {w_all}").alias(f"__hi_{c}") for c in mm],
    )

    joined = with_day.join(F.broadcast(carry), "__day")
    # Running frames only (asc for ffill, desc for bfill): O(n) incremental
    # evaluation; an UNBOUNDED FOLLOWING first(ignorenulls) frame is O(n²).
    w_back = (
        f"OVER (PARTITION BY __day ORDER BY `{ts_col}` ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    w_rev = (
        f"OVER (PARTITION BY __day ORDER BY `{ts_col}` DESC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    keep = [c for c in with_day.columns if c not in cols and c != "__day"]
    mm_cols = [f"__lo_{c}" for c in mm] + [f"__hi_{c}" for c in mm]
    ffilled = joined.select(
        *keep,
        "__day",
        *mm_cols,
        *[F.col(f"__lead_{c}") for c in cols],
        *[
            F.expr(
                f"coalesce(last(`{c}`, true) {w_back}, `__carry_{c}`)"
            ).alias(c)
            for c in cols
        ],
    )
    out = ffilled.select(
        *keep,
        "__day",
        *mm_cols,
        *[
            F.expr(
                f"coalesce(last(`{c}`, true) {w_rev}, `__lead_{c}`)"
            ).alias(c)
            for c in cols
        ],
    )
    if day_col is not None:
        return out.withColumnRenamed("__day", day_col)
    return out.drop("__day")


STRATEGIES = {
    "ffill_then_bfill": ffill_bfill_scalable,
    "mean": fill_mean,
    "median": fill_median,
    "drop_rows": drop_rows,
}


def handle_missing_values(
    df: DataFrame, cols: list[str], strategy: str = "ffill_then_bfill"
) -> DataFrame:
    """Strategy dispatch; unknown strategy -> no-op (preprocess_data.py:68-70)."""
    fn = STRATEGIES.get(strategy)
    return fn(df, cols) if fn else df
