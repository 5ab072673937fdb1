"""Matrix-profile discord discovery per (series, day) chunk.

The matrix profile (Yeh et al., ICDM 2016) is the standard modern
primitive for time-series anomaly (discord) discovery: for every
length-``m`` subsequence, the z-normalized Euclidean distance to its
nearest non-trivial neighbor; subsequences with the LARGEST profile
value are the series' discords — exactly the kind of anomaly the
reference's LSTM autoencoder flags via reconstruction error
(anomaly_detector.py), found here without any trained model.

Distributed shape: the O(n^2) profile is computed EXACTLY within each
(series, day) chunk via an Arrow ``applyInPandas`` (vectorized numpy
dot-product recurrence — one (n-m+1)^2 correlation matrix per chunk),
so a discord is "anomalous relative to its day".  Chunking is what
makes the quadratic primitive scale: cost is sum over chunks of
(samples/day)^2 — linear in total data for bounded scrape cadence —
and parallelism is #series x #days, the same pivot as the PromQL
hot-series fallback.  Cross-day discords are out of scope by design
(they need the day's context window anyway in practice); the chunk
width is a parameter for deployments with different cadences.

No SQL twin exists (the profile is a quadratic nearest-neighbor scan),
so the registry entry is rows-only; exactness is pinned against a
brute-force numpy oracle in tests/test_matrixprofile.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: subsequence length (samples) — ~80 min at the testdata cadence.
MP_M = 16
#: discords reported per (series, chunk).
MP_TOPK = 3
#: trivial-match exclusion zone around each subsequence (indices).
MP_EXCL = MP_M // 2

_OUT_SCHEMA = (
    "metric string, day date, disc_idx int, disc_ts timestamp, "
    "profile_dist double, nn_idx int, nn_ts timestamp"
)


def _znorm_subsequences(x, m):
    """(n-m+1, m) z-normalized subsequence matrix; constant windows
    normalize to all-zeros (their pairwise distance is then sqrt
    differences of other windows' norms — deterministic, pinned)."""
    import numpy as np

    sub = np.lib.stride_tricks.sliding_window_view(x, m).astype("float64")
    mu = sub.mean(axis=1, keepdims=True)
    sd = sub.std(axis=1, keepdims=True)
    sd = np.where(sd <= 1e-12, np.inf, sd)
    return (sub - mu) / sd


def _profile_chunk(pdf, m: int, topk: int, excl: int):
    """Exact z-normalized matrix profile of one chunk; returns the
    ``topk`` highest-profile (most discordant) subsequences."""
    import numpy as np
    import pandas as pd

    # NULL samples would poison every distance through the chunk (NaN
    # min/argmin); drop them — the profile is over observed values
    pdf = pdf.dropna(subset=["value"])
    pdf = pdf.sort_values(["ts", "seq"], ignore_index=True)
    x = pdf["value"].to_numpy()
    n = len(x)
    if n < 2 * m:  # not enough context for a non-trivial neighbor
        return pd.DataFrame(
            columns=[
                "metric", "day", "disc_idx", "disc_ts",
                "profile_dist", "nn_idx", "nn_ts",
            ]
        )
    z = _znorm_subsequences(x, m)
    # squared z-norm distance: ||a||^2 + ||b||^2 - 2 a.b  (norms differ
    # for constant windows, which z-normalized to zeros)
    norms = (z * z).sum(axis=1)
    dots = z @ z.T
    d2 = norms[:, None] + norms[None, :] - 2.0 * dots
    np.fill_diagonal(d2, np.inf)
    k = d2.shape[0]
    idx = np.arange(k)
    trivial = np.abs(idx[:, None] - idx[None, :]) < excl
    d2 = np.where(trivial, np.inf, d2)
    profile2 = d2.min(axis=1)
    nn = d2.argmin(axis=1)
    order = np.argsort(-profile2, kind="stable")[:topk]
    ts = pdf["ts"]
    return pd.DataFrame(
        {
            "metric": pdf["metric"].iloc[0],
            "day": pdf["day"].iloc[0],
            "disc_idx": order.astype("int32"),
            "disc_ts": ts.iloc[order].to_numpy(),
            "profile_dist": np.sqrt(np.maximum(profile2[order], 0.0)).round(6),
            "nn_idx": nn[order].astype("int32"),
            "nn_ts": ts.iloc[nn[order]].to_numpy(),
        }
    )


def matrix_profile_discords(
    s: DataFrame, m: int = MP_M, topk: int = MP_TOPK, excl: int = MP_EXCL
) -> DataFrame:
    """Top-``topk`` discords per (metric, day): highest z-normalized
    matrix-profile distance, nearest-neighbor index attached.

    Input: (metric, ts, seq, value).  One hash exchange on
    (metric, day); each chunk's quadratic scan runs vectorized inside
    its own Arrow batch.
    """
    from ..shipping import ensure_shipped

    ensure_shipped(s.sparkSession)
    chunked = s.withColumn("day", F.to_date("ts"))
    return chunked.groupBy("metric", "day").applyInPandas(
        lambda pdf: _profile_chunk(pdf, m, topk, excl), schema=_OUT_SCHEMA
    )


def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io_tables import events_series

    return matrix_profile_discords(events_series(spark, sf_dir))


QUERIES: dict = {"metric_matrix_profile": (q_matrix_profile, None)}
