"""Feature scaling with sklearn-exact semantics (SURVEY §2.5-A4/A5, M1, H2).

The reference fits ``MinMaxScaler`` / ``StandardScaler`` once over ALL
columns of the processed frame — including the two calendar features
(preprocess_data.py:85-93; load-bearing, see SURVEY §3.2) — persists it
(joblib) and applies that one fitted scaler wherever it scales.  Here the
"scaler artifact" is a tiny params table (feature, min, max, mean,
std_pop), persistable as Parquet/JSON (S9) and exactly reproducible:

* :func:`fit_params` is the one fit, a single global aggregation whose
  rows the caller collects once;
* :func:`affine` maps those rows to a per-feature (shift, divisor), the
  only home of the sklearn rule (population std, ddof=0; a zero divisor
  becomes 1, so a constant column maps to 0);
* :func:`scale_data` is one projection with those values as literals.

:func:`minmax_project` serves the registry's lazy fused plan
(``plans/pipeline.preprocessed``), whose fill summary already carries
each feature's min/max, so it never runs a separate fit.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_params(df: DataFrame, cols: list[str]) -> DataFrame:
    """Fit both scalers at once -> long params table (F4 fixture shape).

    One row per feature: (feature, min, max, mean, std_pop).
    """
    agg = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"min_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"max_{c}") for c in cols],
        *[F.avg(c).alias(f"mean_{c}") for c in cols],
        *[F.stddev_pop(c).alias(f"std_{c}") for c in cols],
    )
    stack_expr = ", ".join(
        f"'{c}', min_{c}, max_{c}, mean_{c}, std_{c}" for c in cols
    )
    return agg.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (feature, min, max, mean, std_pop)"
    )


def affine(params: Iterable, cols: list[str], scaler_type: str) -> tuple[list, list]:
    """Fitted params rows -> ``(shift, divisor)`` lists, one entry per col.

    MinMax: ``(min, max - min)``; Standard: ``(mean, std_pop)``; an
    unknown ``scaler_type`` falls back to MinMax (preprocess_data.py:89-91).
    A zero divisor becomes 1 (sklearn's ``scale_`` rule).  A null
    statistic (an all-null column) stays None, so the column stays null.
    """
    rows = {r["feature"]: r for r in params}
    shift, divisor = [], []
    for c in cols:
        r = rows[c]
        if scaler_type == "StandardScaler":
            lo, d = r["mean"], r["std_pop"]
        else:
            lo, hi = r["min"], r["max"]
            d = None if lo is None or hi is None else hi - lo
        shift.append(lo)
        divisor.append(1.0 if d == 0 else d)
    return shift, divisor


def scale_data(
    df: DataFrame, cols: list[str], scaler_type: str, params: Iterable
) -> DataFrame:
    """M1/A4/A5: ``(c - shift) / divisor`` per col, from fitted ``params``
    (see :func:`affine`), as one select with literal values."""
    shift, divisor = affine(params, cols, scaler_type)
    scaled = {
        c: ((F.col(c) - F.lit(s).cast("double")) / F.lit(d).cast("double")).alias(c)
        for c, s, d in zip(cols, shift, divisor)
    }
    return df.select(*[scaled.get(c, c) for c in df.columns])


def minmax_project(df: DataFrame, cols: list[str]) -> DataFrame:
    """MinMax transform as a PURE projection over pre-attached params.

    Expects ``__lo_{c}`` / ``__hi_{c}`` columns (e.g. from
    ``fill.ffill_bfill_scalable(attach_minmax=cols)``) — the fused
    pipeline shape that avoids re-computing the upstream plan under a
    separate fit aggregation.  Same sklearn semantics as
    :func:`scale_data` with ``MinMaxScaler`` (constant column -> 0.0).
    """
    # one select with one parsed expression per scaled column: the
    # withColumn-per-column form re-analyzes the growing plan each
    # iteration (~190 ms of construction latency for 7 features)
    drop = {f"__lo_{c}" for c in cols} | {f"__hi_{c}" for c in cols}
    scaled = {
        c: F.expr(
            f"CASE WHEN `__hi_{c}` = `__lo_{c}` THEN `{c}` - `__lo_{c}`"
            f" ELSE (`{c}` - `__lo_{c}`) / (`__hi_{c}` - `__lo_{c}`)"
            f" END"
        ).alias(c)
        for c in cols
    }
    return df.select(
        *[
            scaled.get(c, c)
            for c in df.columns
            if c not in drop
        ]
    )
