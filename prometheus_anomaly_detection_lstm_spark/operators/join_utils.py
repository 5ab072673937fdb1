"""Join co-location utility (SURVEY §4-O8).

The testdata is uniform, so this is the *mechanism* a 100-TB
deployment reaches for, with a plan test against the plain strategy:

* :func:`write_bucketed` — persist both sides bucketed by the join key
  so later joins co-locate without a shuffle (SortMergeJoin with zero
  Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 16,
) -> None:
    """Persist bucketed-by-key so future equi-joins on ``key`` between
    co-bucketed tables need no shuffle."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )
