"""Reusable column expressions (all JVM-side Catalyst, no Python UDFs)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def weekday_mon0(ts: Column | str) -> Column:
    """Day-of-week with Monday=0 (pandas ``Index.dayofweek`` convention).

    The reference appends this at data_collector.py:226-227.  Spark's
    ``dayofweek`` is Sunday=1, so we use ``weekday`` (Spark >= 3.5,
    Monday=0) which matches pandas exactly.  Cast to BIGINT for stable
    cross-engine schema comparison.
    """
    return F.weekday(ts).cast("bigint")


def hour_of_day(ts: Column | str) -> Column:
    """Hour 0-23 (data_collector.py:227)."""
    return F.hour(ts).cast("bigint")


def clip01(c: Column) -> Column:
    """Clamp to [0, 1] — the stub autoencoder's sigmoid-like output range."""
    return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))


def single_partition_key(col: Column | str) -> Column:
    """Explicit single-partition window key for METADATA-SCALE frames.

    Several scale primitives run a window over a tiny per-day/per-group
    summary (~#days rows) — a deliberate single partition.  An empty
    ``partitionBy()`` makes WindowExec warn as if the big table were
    collapsing, drowning real signal in bench logs; a foldable constant
    key (``lit(0)``) is optimized away and warns identically.  This
    constant-valued but NON-foldable key (``pmod(hash(col), 1)`` = 0 for
    every row) keeps the single-partition intent explicit, the plan
    unchanged, and the warning out of the logs.  Never use on frames
    that grow with the data.
    """
    return F.pmod(F.hash(F.col(col) if isinstance(col, str) else col), F.lit(1))


def ntz_epoch_seconds(ts: Column | str) -> Column:
    """TIMESTAMP_NTZ -> epoch seconds (DOUBLE), session-TZ-INDEPENDENT.

    ``ntz.cast("timestamp").cast("double")`` interprets the wall-clock
    value in the SESSION timezone — correct only under UTC, silently
    DST-skewed otherwise (e.g. irate over a spring-forward boundary).
    This expression uses only calendar-field extractions from the NTZ
    value (date diff, hour, minute, decimal second), so no timezone
    enters anywhere; fractional seconds survive via
    ``extract(second)``'s DECIMAL.  Matches DuckDB ``epoch(ts)`` (which
    also treats a plain TIMESTAMP as UTC wall-clock) for oracle parity.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    sec = F.date_part(F.lit("second"), c)
    return (
        F.datediff(F.to_date(c), F.lit("1970-01-01")).cast("double") * 86400
        + F.hour(c).cast("double") * 3600
        + F.minute(c).cast("double") * 60
        + sec.cast("double")
    )
