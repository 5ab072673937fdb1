"""DuckDB oracle SQL builders mirroring the Spark pipeline stage-for-stage.

Each CTE corresponds 1:1 to a pipeline stage in plans/pipeline.py so the
driver's oracle comparison exercises exactly the declared semantics.
Float-producing stages round to a fixed precision in BOTH engines
(Spark query and oracle) because double aggregation order differs
between engines; exact-copy stages (pivot, fill, dedup) need no
rounding.
"""

from __future__ import annotations

from .ml.autoencoder import STUB
from .plans.pipeline import (
    ANOMALY_THRESHOLD,
    FEATURES,
    METRICS,
    SEQUENCE_LENGTH,
)

L = SEQUENCE_LENGTH


def pivot_cols() -> str:
    return ",\n         ".join(
        f"arg_min(value, event_id) FILTER (WHERE event_type = '{m}') AS {m}"
        for m in METRICS
    )


WIDE_CTE = f"""wide AS (
  SELECT date_trunc('minute', ts) AS ts,
         {pivot_cols()}
  FROM events
  GROUP BY 1
)"""

CAL_CTE = """cal AS (
  SELECT *,
         CAST(isodow(ts) - 1 AS BIGINT) AS day_of_week,
         CAST(hour(ts) AS BIGINT) AS hour_of_day
  FROM wide
)"""


def _ffill_bfill(c: str) -> str:
    return (
        f"coalesce("
        f"last_value({c} IGNORE NULLS) OVER "
        f"(ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
        f"first_value({c} IGNORE NULLS) OVER "
        f"(ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        f") AS {c}"
    )


FILLED_CTE = (
    "filled AS (\n  SELECT ts, day_of_week, hour_of_day,\n         "
    + ",\n         ".join(_ffill_bfill(m) for m in METRICS)
    + "\n  FROM cal\n)"
)

BOUNDS_CTE = (
    "bounds AS (\n  SELECT "
    + ", ".join(f"min({c}) AS lo_{c}, max({c}) AS hi_{c}" for c in FEATURES)
    + "\n  FROM filled\n)"
)


def _minmax(c: str) -> str:
    return (
        f"CASE WHEN hi_{c} = lo_{c} THEN {c} - lo_{c} "
        f"ELSE ({c} - lo_{c}) / (hi_{c} - lo_{c}) END AS {c}"
    )


SCALED_CTE = (
    "scaled AS (\n  SELECT ts,\n         "
    + ",\n         ".join(_minmax(c) for c in FEATURES)
    + "\n  FROM filled, bounds\n)"
)


def _row_err_term(c: str) -> str:
    return f"power({c} - least(greatest({c} * {STUB.a} + {STUB.b}, 0.0), 1.0), 2)"


ERR_CTE = (
    "err AS (\n  SELECT ts, ("
    + " + ".join(_row_err_term(c) for c in FEATURES)
    + f") / {float(len(FEATURES))} AS row_err\n  FROM scaled\n)"
)

WIN_CTE = f"""win AS (
  SELECT ts,
         CAST(row_number() OVER (ORDER BY ts) AS BIGINT) - 1 AS window_id,
         avg(row_err) OVER (ORDER BY ts ROWS BETWEEN CURRENT ROW AND {L - 1} FOLLOWING) AS mse,
         count(*) OVER (ORDER BY ts ROWS BETWEEN CURRENT ROW AND {L - 1} FOLLOWING) AS cnt
  FROM err
)"""

_PIPE = [WIDE_CTE, CAL_CTE, FILLED_CTE, BOUNDS_CTE, SCALED_CTE, ERR_CTE, WIN_CTE]


def _with(*ctes: str) -> str:
    return "WITH " + ",\n".join(ctes)


def pipeline_prefix(upto: str) -> str:
    """WITH-clause including every pipeline CTE up to and including `upto`."""
    idx = next(i for i, c in enumerate(_PIPE) if c.startswith(upto))
    return _with(*_PIPE[: idx + 1])


# ---------------------------------------------------------------- queries

ORACLE_WIDE = pipeline_prefix("wide") + "\nSELECT * FROM wide"

ORACLE_CALENDAR = (
    pipeline_prefix("cal") + "\nSELECT ts, day_of_week, hour_of_day FROM cal"
)

ORACLE_FFILL_BFILL = (
    pipeline_prefix("filled")
    + "\nSELECT ts, "
    + ", ".join(METRICS)
    + " FROM filled"
)

ORACLE_FILL_MEAN = (
    pipeline_prefix("wide")
    + ",\nmeans AS (SELECT "
    + ", ".join(f"avg({m}) AS mu_{m}" for m in METRICS)
    + " FROM wide)\nSELECT ts, "
    + ", ".join(f"round(coalesce({m}, mu_{m}), 6) AS {m}" for m in METRICS)
    + " FROM wide, means"
)

ORACLE_FILL_MEDIAN = (
    pipeline_prefix("wide")
    + ",\nmeds AS (SELECT "
    + ", ".join(f"median({m}) AS md_{m}" for m in METRICS)
    + " FROM wide)\nSELECT ts, "
    + ", ".join(f"round(coalesce({m}, md_{m}), 6) AS {m}" for m in METRICS)
    + " FROM wide, meds"
)

ORACLE_SCALER_PARAMS = (
    pipeline_prefix("filled")
    + ",\nagg AS (SELECT "
    + ", ".join(
        f"CAST(min({c}) AS DOUBLE) AS min_{c}, CAST(max({c}) AS DOUBLE) AS max_{c}, "
        f"avg({c}) AS mean_{c}, stddev_pop({c}) AS std_{c}"
        for c in FEATURES
    )
    + " FROM filled)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS feature, round(min_{c}, 6) AS min, "
        f"round(max_{c}, 6) AS max, round(mean_{c}, 6) AS mean, "
        f"round(std_{c}, 6) AS std_pop FROM agg"
        for c in FEATURES
    )
)

ORACLE_MINMAX_SCALED = (
    pipeline_prefix("scaled")
    + "\nSELECT ts, "
    + ", ".join(f"round({c}, 6) AS {c}" for c in FEATURES)
    + " FROM scaled"
)

ORACLE_STANDARD_SCALED = (
    pipeline_prefix("filled")
    + ",\nmoments AS (SELECT "
    + ", ".join(
        f"avg({c}) AS mu_{c}, stddev_pop({c}) AS sd_{c}" for c in FEATURES
    )
    + " FROM filled)\nSELECT ts, "
    + ", ".join(
        f"round(CASE WHEN sd_{c} = 0 THEN {c} - mu_{c} "
        f"ELSE ({c} - mu_{c}) / sd_{c} END, 6) AS {c}"
        for c in FEATURES
    )
    + " FROM filled, moments"
)

ORACLE_ANOMALY_MSE = (
    pipeline_prefix("win")
    + f"\nSELECT window_id, ts AS start_ts, round(mse, 8) AS mse FROM win WHERE cnt = {L}"
)

ORACLE_ANOMALY_FLAGS = (
    pipeline_prefix("win")
    + f"""
SELECT window_id, ts AS start_ts, round(mse, 8) AS mse,
       CAST(mse > {ANOMALY_THRESHOLD} AS BIGINT) AS is_anomaly
FROM win WHERE cnt = {L}"""
)

# Production-shape flagship (round-12): score stride-1 windows FROM a
# MATERIALIZED waist table (the `scaled` frame persisted as parquet)
# instead of recomputing pivot->fill->scale.  Expects a pre-registered
# view `waist` over that parquet (ts + FEATURES, any extra columns
# ignored); the tail is the exact ERR/WIN pair of ORACLE_ANOMALY_MSE,
# so both engines read the SAME stored doubles.
ORACLE_ANOMALY_MSE_FROM_WAIST = (
    _with(
        "scaled AS (\n  SELECT ts, "
        + ", ".join(FEATURES)
        + " FROM waist\n)",
        ERR_CTE,
        WIN_CTE,
    )
    + f"\nSELECT window_id, ts AS start_ts, round(mse, 8) AS mse FROM win WHERE cnt = {L}"
)

ORACLE_THRESHOLD_SPLIT = (
    pipeline_prefix("win")
    + f""",
flags AS (
  SELECT CAST(mse > {ANOMALY_THRESHOLD} AS BIGINT) AS is_anomaly
  FROM win WHERE cnt = {L}
)
SELECT is_anomaly, CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
FROM flags GROUP BY 1"""
)

ORACLE_MSE_HISTOGRAM = (
    pipeline_prefix("win")
    + f""",
r AS (SELECT round(mse, 8) AS mse FROM win WHERE cnt = {L}),
b AS (SELECT min(mse) AS lo, max(mse) AS hi FROM r)
SELECT CAST(CASE WHEN hi = lo THEN 0
            ELSE least(floor((mse - lo) / ((hi - lo) / 50.0)), 49) END AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM r, b GROUP BY 1"""
)

ORACLE_THRESHOLD_PERCENTILES = (
    pipeline_prefix("win")
    + f""",
r AS (SELECT round(mse, 8) AS mse FROM win WHERE cnt = {L})
SELECT round(quantile_cont(mse, 0.95), 8) AS p95,
       round(quantile_cont(mse, 0.99), 8) AS p99
FROM r"""
)

ORACLE_PER_FEATURE_MSE = (
    pipeline_prefix("scaled")
    + ",\nagg AS (SELECT "
    + ", ".join(f"avg({_row_err_term(c)}) AS mse_{c}" for c in FEATURES)
    + " FROM scaled)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS feature, round(mse_{c}, 8) AS mse FROM agg"
        for c in FEATURES
    )
)

ORACLE_TAIL_N = (
    pipeline_prefix("wide") + f"\nSELECT * FROM wide ORDER BY ts DESC LIMIT {L}"
)

ORACLE_INNER_ALIGN = (
    pipeline_prefix("wide")
    + "\nSELECT * FROM wide WHERE "
    + " AND ".join(f"{m} IS NOT NULL" for m in METRICS)
)

# keep-first semantics: list(... ORDER BY)[1] keeps a NULL first value
# (matching Spark's row_number keep-first), where arg_min would skip it
ORACLE_DEDUP_KEEP_FIRST = """SELECT date_trunc('minute', ts) AS ts,
       event_type AS metric,
       list(value ORDER BY event_id)[1] AS value,
       CAST(min(event_id) AS BIGINT) AS seq
FROM events
GROUP BY 1, 2"""

ORACLE_MULTI_SERIES_FIRST = """WITH g AS (
  SELECT date_trunc('minute', ts) AS ts, event_type AS metric, user_id, value,
         min(user_id) OVER (PARTITION BY date_trunc('minute', ts), event_type) AS first_series
  FROM events
)
SELECT ts, metric, user_id, value FROM g WHERE user_id = first_series"""

ORACLE_UNION_PERIODS = """WITH tagged AS (
  SELECT date_trunc('minute', ts) AS ts, event_type AS metric, value, event_id,
         CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 0 ELSE 1 END AS period_idx
  FROM events
)
SELECT ts, metric,
       list(value ORDER BY period_idx, event_id)[1] AS value
FROM tagged
GROUP BY 1, 2"""

ORACLE_BACKFILL_MISSING = (
    pipeline_prefix("wide")
    + "\nSELECT *, CAST(NULL AS DOUBLE) AS latency, CAST(NULL AS DOUBLE) AS cpu FROM wide"
)

ORACLE_NUMERIC_COERCION = """SELECT event_id,
       TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE) AS k_num,
       TRY_CAST(event_type AS DOUBLE) AS bad
FROM events"""


ORACLE_ANOMALY_INTERVALS = (
    pipeline_prefix("win")
    + f""",
flagged AS (
  SELECT window_id, ts AS start_ts, mse
  FROM win WHERE cnt = {L} AND mse > {ANOMALY_THRESHOLD}
),
islands AS (
  SELECT *,
         window_id - row_number() OVER (ORDER BY window_id) AS g
  FROM flagged
)
SELECT min(window_id) AS first_window_id,
       max(window_id) AS last_window_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       min(start_ts) AS start_ts,
       round(max(mse), 8) AS peak_mse
FROM islands GROUP BY g"""
)
