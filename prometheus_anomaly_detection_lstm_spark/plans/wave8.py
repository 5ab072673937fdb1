"""Pipeline-ops / symbolic / vector-mining plans (round-5 continuation 4).

Engine-completeness surface beside the reference's LSTM detector
(vpuhoff/prometheus-anomaly-detection-lstm, train_model.py /
detect_anomalies.py): the operational diagnostics and training-data
mining passes a production deployment of that detector runs on the
same lake.

- ``join_key_skew_profile`` — pre-join key-skew diagnostics (the
  "should this join be salted?" readout): per-key count distribution
  collapsed to one row per (relation, key) — row/key totals, max and
  percentile counts, skew ratio, top-key share.  The only
  data-proportional exchange is the per-key partial-aggregated
  groupBy; the percentile pass runs on the (much smaller) key-counts
  frame.
- ``embedding_hard_negatives`` — triplet-mining readout per anchor:
  the hardest negative (highest cosine under a DIFFERENT label) and
  hardest positive (lowest cosine under the SAME label), plus the
  triplet margin.  Anchors are a bounded broadcast set; candidates
  stream through ONE map stage; per-anchor argmax/argmin is a
  struct-ordered max/min aggregate (map-side combine, no window over
  the pair stream) so the shuffle carries 2 rows per (partition,
  anchor), never the pair stream itself.
- ``metric_sax_symbols`` — SAX symbolization (Lin et al., DMKD 2007):
  per-series z-normalization (tiny stats frame broadcast back, no
  whole-series window), hourly PAA segment means, N(0,1)-quartile
  breakpoint symbols, one SAX word per (series, day).  The standard
  index/summary representation for similarity search over raw metric
  archives at 100 TB.
- ``text_pmi_collocations`` — top-K bigram collocations by pointwise
  mutual information (Church & Hanks, 1990) with a minimum-count
  floor.  Bigrams come from an array ``transform`` over the token
  array (no self-join); unigram margins are re-aggregated from the
  bigram counts (vocabulary-scale, not corpus-scale); final top-K by
  TakeOrderedAndProject.
- ``metric_spectral_residual`` — model-free saliency anomalies via
  the spectral-residual transform (Ren et al., KDD 2019 — the
  SR half of SR-CNN): per (series, day) hourly means, log-amplitude
  spectrum minus its moving average, inverse FFT saliency, flag
  points whose relative saliency exceeds ``SR_THRESHOLD``.  Arrow
  applyInPandas per (series, day) chunk — parallelism is
  #series x #days, each task FFTs a bounded 24-point window.
  No SQL twin (FFT): rows-only registry entry; exactness is pinned
  vs a from-the-definition numpy replica in tests/test_wave8.py.

Scale notes (100 TB): every operator's data-proportional stage is a
single hash-partitioned partial aggregate or a broadcast-joined map;
windows/sorts only ever run on metadata-scale frames (key counts,
vocabulary margins, 32-row anchor sets, 24-point day chunks).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ntz_epoch_seconds
from ..io_tables import events_series, load_table
from ..functions.checkpoint import cut_lineage

QUERIES: dict = {}

#: Hard-negative mining: anchors = vec_id < HN_ANCHORS (bounded,
#: broadcast) — the same anchor-set idiom as ann_cosine_topk.
HN_ANCHORS = 32
#: PMI collocations: minimum bigram count and report size.
PMI_MIN_COUNT = 5
PMI_TOP_K = 100
#: SAX: N(0,1) quartile breakpoints -> 4-symbol alphabet a..d.
SAX_BREAKPOINTS = (-0.6744897501960817, 0.0, 0.6744897501960817)
#: Spectral residual: moving-average width on the log spectrum
#: (Ren et al. use q=3) and the relative-saliency anomaly threshold.
#: The paper's tau=3 applies to their long sliding windows; on bounded
#: 24-point day chunks the log-compressed saliency caps near 1.3 even
#: for a 100x spike, so the threshold is calibrated against measured
#: chunk behavior: a 2x planted spike scores ~0.69, benign sine
#: variation <= ~0.1 (median normalization) — 0.5 splits them cleanly.
SR_Q = 3
SR_THRESHOLD = 0.5
SR_EPS = 1e-8


# ----------------------------------------------- join-key skew profile

def _key_profile(df: DataFrame, rel: str, key: str) -> DataFrame:
    """One diagnostic row for (rel, key): the per-key count
    distribution.  groupBy(key) partial-aggregates map-side; the
    percentile aggregate then runs over the key-counts frame (one row
    per distinct key — metadata scale next to the fact table)."""
    cnts = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("cnt"))
    agg = cnts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5D)"), 6).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99D)"), 6).alias("p99_cnt"),
        F.round(
            F.max("cnt") / F.expr("percentile(cnt, 0.5D)"), 6
        ).alias("skew_ratio"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_share"),
    )
    return agg.select(
        F.lit(rel).alias("rel"), F.lit(key).alias("key"), "*"
    )


def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics for the three join keys a 100-TB deployment
    actually shuffles on: events.user_id (sessionization / funnels),
    lineitem.l_orderkey (order joins), orders.o_custkey (customer
    rollups).  Three one-row profiles unioned."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    return (
        _key_profile(ev, "events", "user_id")
        .unionByName(_key_profile(li, "lineitem", "l_orderkey"))
        .unionByName(_key_profile(od, "orders", "o_custkey"))
    )


_SKEW_ONE = """SELECT '{rel}' AS rel, '{key}' AS key,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
       round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
       round(max(cnt) / quantile_cont(cnt, 0.5), 6) AS skew_ratio,
       round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_share
FROM (SELECT {key} AS k, CAST(count(*) AS DOUBLE) AS cnt
      FROM {rel} GROUP BY 1)"""

ORACLE_KEY_SKEW = " UNION ALL ".join(
    _SKEW_ONE.format(rel=rel, key=key)
    for rel, key in [
        ("events", "user_id"),
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
    ]
)

QUERIES["join_key_skew_profile"] = (q_join_key_skew_profile, ORACLE_KEY_SKEW)


# --------------------------------------------- hard-negative mining

def hard_negatives(emb: DataFrame, n_anchors: int = HN_ANCHORS) -> DataFrame:
    """Per-anchor triplet-mining readout: hardest negative (max cosine,
    different label), hardest positive (min cosine, same label), and
    the margin between them.  Ties break on the LOWER candidate id in
    both directions — encoded as struct-ordered max/min aggregates so
    the per-anchor argmax is a partial-combining aggregation (2 rows
    per partition per anchor cross the wire), not a window over the
    anchor x corpus pair stream."""
    from ..operators.similarity import _norm_den

    # norm + label in ONE projection — a with_norm()-then-self-join
    # would shuffle the corpus twice through a SortMergeJoin on vec_id
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    normed = emb.select(
        "vec_id",
        "label",
        vec.alias("vec"),
        F.sqrt(
            F.aggregate(
                F.transform(vec, lambda v: v * v),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("norm"),
    )
    anchors = normed.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.col("label").alias("q_label"),
    )
    cand = normed.select(
        F.col("vec_id").alias("c_id"),
        F.col("vec").alias("c_vec"),
        F.col("norm").alias("c_norm"),
        F.col("label").alias("c_label"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", dot / _norm_den("q_norm", "c_norm"))
        .filter(F.col("cosine").isNotNull())  # zero vectors: no direction
        .select("q_id", "q_label", "c_id", "c_label", "cosine")
    )
    neg = (
        pairs.filter(F.col("c_label") != F.col("q_label"))
        .groupBy("q_id", "q_label")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine").alias("cos"),
                    (-F.col("c_id")).alias("nid"),
                )
            ).alias("hn")
        )
    )
    pos = (
        pairs.filter(F.col("c_label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(
            F.min(
                F.struct(
                    F.col("cosine").alias("cos"), F.col("c_id").alias("cid")
                )
            ).alias("hp")
        )
    )
    return (
        neg.join(F.broadcast(pos), "q_id")  # both sides <= n_anchors rows
        .select(
            "q_id",
            F.col("q_label").alias("label"),
            (-F.col("hn.nid")).cast("bigint").alias("hard_neg_id"),
            F.round("hn.cos", 6).alias("hard_neg_cos"),
            F.col("hp.cid").alias("hard_pos_id"),
            F.round("hp.cos", 6).alias("hard_pos_cos"),
            F.round(F.col("hp.cos") - F.col("hn.cos"), 6).alias("margin"),
        )
    )


ORACLE_HARD_NEGATIVES = f"""WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS q_id, q.label AS q_label,
         c.vec_id AS c_id, c.label AS c_label,
         list_dot_product(q.vec, c.vec) / nullif(q.norm * c.norm, 0) AS cosine
  FROM v q, v c
  WHERE q.vec_id < {HN_ANCHORS} AND q.vec_id != c.vec_id
    AND list_dot_product(q.vec, c.vec) / nullif(q.norm * c.norm, 0)
        IS NOT NULL
),
neg AS (
  SELECT q_id, q_label, c_id, cosine,
         row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, c_id ASC) AS rk
  FROM pairs WHERE c_label != q_label
),
pos AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id
             ORDER BY cosine ASC, c_id ASC) AS rk
  FROM pairs WHERE c_label = q_label
)
SELECT n.q_id, n.q_label AS label,
       n.c_id AS hard_neg_id, round(n.cosine, 6) AS hard_neg_cos,
       p.c_id AS hard_pos_id, round(p.cosine, 6) AS hard_pos_cos,
       round(p.cosine - n.cosine, 6) AS margin
FROM neg n JOIN pos p ON n.q_id = p.q_id
WHERE n.rk = 1 AND p.rk = 1"""

def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negatives(load_table(spark, sf_dir, "embeddings"))


QUERIES["embedding_hard_negatives"] = (
    q_embedding_hard_negatives,
    ORACLE_HARD_NEGATIVES,
)


# ------------------------------------------------- SAX symbolization

def sax_symbols(s: DataFrame) -> DataFrame:
    """One SAX word per (metric, day): z-normalize against per-series
    stats (tiny stats frame broadcast back — no whole-series window),
    hourly PAA means, quartile-breakpoint symbols, hour-ordered word.

    Segment means are rounded to 9 dp BEFORE the breakpoint CASE so a
    1-ulp summation difference can never flip a symbol across engines.
    """
    stats = s.groupBy("metric").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    ).filter(F.col("sd") > 0)
    b1, b2, b3 = SAX_BREAKPOINTS
    z = s.join(F.broadcast(stats), "metric").withColumn(
        "z", (F.col("value") - F.col("mu")) / F.col("sd")
    )
    paa = z.groupBy(
        "metric",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(F.round(F.avg("z"), 9).alias("seg"))
    sym = paa.withColumn(
        "sym",
        F.when(F.col("seg") < b1, F.lit("a"))
        .when(F.col("seg") < b2, F.lit("b"))
        .when(F.col("seg") < b3, F.lit("c"))
        .otherwise(F.lit("d")),
    )
    word = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct("hr", "sym"))),
            lambda x: x.sym,
        ),
    )
    return sym.groupBy("metric", "day").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        word.alias("word"),
    )


def q_metric_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sax_symbols(events_series(spark, sf_dir))


ORACLE_SAX = f"""WITH stats AS (
  SELECT event_type AS metric, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_type AS metric, date_trunc('day', e.ts) AS day,
         extract(hour FROM e.ts) AS hr,
         (e.value - s.mu) / s.sd AS z
  FROM events e JOIN stats s ON e.event_type = s.metric
  WHERE s.sd > 0
),
paa AS (
  SELECT metric, day, hr, round(avg(z), 9) AS seg
  FROM z GROUP BY 1, 2, 3
),
sym AS (
  SELECT metric, day, hr,
         CASE WHEN seg < {SAX_BREAKPOINTS[0]} THEN 'a'
              WHEN seg < {SAX_BREAKPOINTS[1]} THEN 'b'
              WHEN seg < {SAX_BREAKPOINTS[2]} THEN 'c'
              ELSE 'd' END AS sym
  FROM paa
)
SELECT metric, day, CAST(count(*) AS BIGINT) AS n_segments,
       string_agg(sym, '' ORDER BY hr) AS word
FROM sym GROUP BY 1, 2"""

QUERIES["metric_sax_symbols"] = (q_metric_sax_symbols, ORACLE_SAX)


# --------------------------------------------- PMI collocations

def pmi_collocations(
    docs: DataFrame,
    min_count: int = PMI_MIN_COUNT,
    top_k: int = PMI_TOP_K,
) -> DataFrame:
    """Top-``top_k`` bigram collocations by PMI with a ``min_count``
    floor.  Bigrams via an array ``transform`` over each doc's token
    array (linear in corpus bytes, no self-join); the w1/w2 margins
    re-aggregate the BIGRAM counts (vocabulary scale), so nothing
    after the first groupBy is corpus-sized; final top-K lowers to
    TakeOrderedAndProject."""
    toks = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    bigrams = F.expr(
        "transform(slice(toks, 1, size(toks) - 1), "
        "(x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
    )
    b = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select("bg.w1", "bg.w2")
    )
    # cxy is bigram-VOCABULARY scale with four consumers (cx, cy,
    # total, scored) — unchecked, Catalyst re-executed the corpus-wide
    # bigram explode per consumer (4 executed scans, round-12 audit).
    # One lazy checkpoint cuts that to one pass; interleaved full-cost
    # A/B at sf0.1: 1.91 -> 1.48 s median-of-5, hash-identical.
    # Executor-loss caveat: see events_association_rules (relational.py).
    cxy = b.groupBy("w1", "w2").agg(
        F.count("*").alias("c_xy")
    ).transform(cut_lineage)
    # margins as DOUBLE: the c_x * c_y product at 100-TB corpus counts
    # would overflow BIGINT (the oracle's counts are DOUBLE throughout)
    cx = cxy.groupBy("w1").agg(F.sum("c_xy").cast("double").alias("c_x"))
    cy = cxy.groupBy("w2").agg(F.sum("c_xy").cast("double").alias("c_y"))
    total = cxy.agg(F.sum("c_xy").cast("double").alias("n_bi"))
    scored = (
        cxy.filter(F.col("c_xy") >= min_count)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(
                F.log(
                    F.col("c_xy") * F.col("n_bi")
                    / (F.col("c_x") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(top_k)


def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_collocations(load_table(spark, sf_dir, "documents"))


ORACLE_PMI = f"""WITH d AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents
),
b AS (
  SELECT unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS pr
  FROM d WHERE len(toks) >= 2
),
cxy AS (
  SELECT pr[1] AS w1, pr[2] AS w2, CAST(count(*) AS DOUBLE) AS c_xy
  FROM b GROUP BY 1, 2
),
m AS (
  SELECT w1, w2, c_xy,
         sum(c_xy) OVER (PARTITION BY w1) AS c_x,
         sum(c_xy) OVER (PARTITION BY w2) AS c_y,
         sum(c_xy) OVER () AS n_bi
  FROM cxy
)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
       round(ln(c_xy * n_bi / (c_x * c_y)), 6) AS pmi
FROM m
WHERE c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {PMI_TOP_K}"""

QUERIES["text_pmi_collocations"] = (q_text_pmi_collocations, ORACLE_PMI)


# ------------------------------------------- spectral-residual anomalies

def sr_saliency(x: np.ndarray) -> np.ndarray:
    """Spectral-residual saliency map of a 1-D series (Ren et al.,
    KDD 2019): log-amplitude spectrum minus its SR_Q-point moving
    average ('same' convolution), recombined with the original phase,
    inverse-FFT magnitude.  Pure numpy — shared by the operator and
    the from-the-definition test pin."""
    fft = np.fft.fft(x.astype("float64"))
    amp = np.abs(fft)
    log_amp = np.log(amp + SR_EPS)
    # chunks shorter than the averaging window (a day with < SR_Q
    # hourly samples): shrink the window — 'same' convolution with a
    # kernel longer than the signal returns kernel-length output
    q = min(SR_Q, len(x))
    kernel = np.ones(q) / q
    avg = np.convolve(log_amp, kernel, mode="same")
    residual = log_amp - avg
    return np.abs(np.fft.ifft(np.exp(residual + 1j * np.angle(fft))))


SR_SCHEMA = (
    "metric string, day timestamp, hr int, hourly_value double, "
    "saliency_score double"
)


def spectral_residual_anomalies(
    s: DataFrame, threshold: float = SR_THRESHOLD
) -> DataFrame:
    """Flag hours whose relative saliency (S - median(S)) /
    (median(S) + eps) exceeds ``threshold``, per (metric, day) chunk of
    hourly means — median normalization so the spike itself cannot
    inflate its own baseline.  Arrow
    applyInPandas: each task FFTs one bounded <=24-point window, so
    parallelism is #series x #days and per-task cost is O(1)."""
    hourly = s.groupBy(
        "metric",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(F.avg("value").alias("hourly_value"))

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hr").reset_index(drop=True)
        sal = sr_saliency(pdf["hourly_value"].to_numpy())
        med = np.median(sal)
        rel = (sal - med) / (med + SR_EPS)
        pdf["saliency_score"] = np.round(rel, 6)
        return pdf[rel > threshold][
            ["metric", "day", "hr", "hourly_value", "saliency_score"]
        ]

    return hourly.groupBy("metric", "day").applyInPandas(score, SR_SCHEMA)


def q_metric_spectral_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spectral_residual_anomalies(events_series(spark, sf_dir))


# FFT has no SQL twin: rows-only registry entry; exactness pinned vs a
# from-the-definition numpy replica + planted-spike detection +
# partitioning invariance in tests/test_wave8.py.
QUERIES["metric_spectral_residual"] = (q_metric_spectral_residual, None)


# --------------------------------------- Holt-Winters seasonal forecast

#: Additive Holt-Winters smoothing constants (level / trend / seasonal)
#: and the seasonal period in hours.  The classic conservative tuning
#: for hourly ops metrics with a daily cycle.
HW_ALPHA = 0.2
HW_BETA = 0.02
HW_GAMMA = 0.1
HW_PERIOD = 24
#: residual z-score threshold; the first season has no forecast (the
#: state initializes from it) and is excluded from sigma and flags.
HW_Z = 3.0

HW_SCHEMA = (
    "metric string, ts_hour timestamp, value double, forecast double, "
    "resid double, resid_z double"
)


def holt_winters_forecast(x: np.ndarray, m: int = HW_PERIOD):
    """Additive Holt-Winters one-step-ahead forecasts (textbook
    recursion).  Init: level = mean of season 1, trend = per-step
    difference of season means, seasonals = season-1 deviations.
    Returns a forecast array aligned to x (first season = NaN: no
    forecast exists before the state is initialized).  Pure numpy —
    shared by the operator and the from-the-definition test pin."""
    n = len(x)
    out = np.full(n, np.nan)
    if n < 2 * m:
        return out  # not enough history to initialize level+trend
    level = x[:m].mean()
    trend = (x[m : 2 * m].mean() - x[:m].mean()) / m
    season = (x[:m] - level).copy()
    for t in range(m, n):
        s = season[t % m]
        out[t] = level + trend + s
        prev_level = level
        level = HW_ALPHA * (x[t] - s) + (1 - HW_ALPHA) * (level + trend)
        trend = HW_BETA * (level - prev_level) + (1 - HW_BETA) * trend
        season[t % m] = HW_GAMMA * (x[t] - level) + (1 - HW_GAMMA) * s
    return out


def holt_winters_anomalies(s: DataFrame, z: float = HW_Z) -> DataFrame:
    """Seasonal-forecast residual anomalies per series: hourly means,
    additive Holt-Winters one-step forecasts, flag hours where
    |residual| > ``z`` sigma (sigma = std of post-warm-up residuals).

    The recursion is inherently sequential per series, so this is an
    Arrow applyInPandas with parallelism = #series; the per-series
    pass is a single O(n) streaming scan over the (much smaller)
    hourly rollup, not the raw samples — at 100 TB the raw->hourly
    collapse happens in the partial-aggregating groupBy before any
    Python.  The daily-chunk FFT twin (metric_spectral_residual) and
    the closed-form double-smoothing twin (promql_holt_smoothing)
    cover the bounded-chunk and no-Python alternatives."""
    hourly = s.groupBy(
        "metric", F.date_trunc("hour", "ts").alias("ts_hour")
    ).agg(F.avg("value").alias("value"))

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts_hour").reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype="float64")
        fc = holt_winters_forecast(x)
        resid = x - fc
        valid = ~np.isnan(resid)
        if valid.sum() < 2:
            return pdf.iloc[0:0].assign(forecast=0.0, resid=0.0, resid_z=0.0)
        sigma = resid[valid].std()
        if sigma == 0:
            return pdf.iloc[0:0].assign(forecast=0.0, resid=0.0, resid_z=0.0)
        rz = resid / sigma
        pdf["forecast"] = np.round(fc, 6)
        pdf["resid"] = np.round(resid, 6)
        pdf["resid_z"] = np.round(rz, 6)
        return pdf[valid & (np.abs(rz) > z)][
            ["metric", "ts_hour", "value", "forecast", "resid", "resid_z"]
        ]

    return hourly.groupBy("metric").applyInPandas(score, HW_SCHEMA)


def q_metric_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return holt_winters_anomalies(events_series(spark, sf_dir))


# The coupled level/trend/seasonal recursion has no SQL twin:
# rows-only registry entry; pinned vs an independent textbook replica,
# a planted seasonal break, and partitioning invariance.
QUERIES["metric_holt_winters"] = (q_metric_holt_winters, None)


# --------------------------------------- embedding centroid drift

#: Embedding dimensionality of the testdata embeddings table (matches
#: operators/linalg.DIM).
EMB_DIM = 64


def centroid_drift(emb: DataFrame) -> DataFrame:
    """Per-label centroid drift between the first and second half of
    the corpus (split at the median vec_id — the ingestion-order
    proxy): centroid cosine and L2 distance, the standard
    embedding-space drift monitor between two data slices.

    Shape: posexplode to (label, dim, x) and aggregate per-dim
    conditional means — ONE corpus-proportional exchange on
    (label, dim) whose output is #labels x #dims rows; the cosine
    then reduces that metadata-scale frame per label.  The median cut
    is a one-row broadcast (BNLJ-allowlisted scalar)."""
    cut = emb.agg(
        F.expr("percentile(vec_id, 0.5D)").alias("cut")
    )
    x = (
        emb.crossJoin(F.broadcast(cut))
        .withColumn(
            "half", F.when(F.col("vec_id") < F.col("cut"), 0).otherwise(1)
        )
        .select(
            "label",
            "half",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "xi"
            ),
        )
    )
    cent = x.groupBy("label", "d").agg(
        F.avg(F.when(F.col("half") == 0, F.col("xi"))).alias("ca"),
        F.avg(F.when(F.col("half") == 1, F.col("xi"))).alias("cb"),
    )
    per_label = cent.groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sum(F.col("ca") * F.col("ca")).alias("na"),
        F.sum(F.col("cb") * F.col("cb")).alias("nb"),
        F.sum(
            (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
        ).alias("sq"),
    )
    counts = (
        emb.crossJoin(F.broadcast(cut))
        .groupBy("label")
        .agg(
            F.sum(
                F.when(F.col("vec_id") < F.col("cut"), 1).otherwise(0)
            ).cast("bigint").alias("n_a"),
            F.sum(
                F.when(F.col("vec_id") >= F.col("cut"), 1).otherwise(0)
            ).cast("bigint").alias("n_b"),
        )
    )
    return per_label.join(counts, "label").select(
        "label",
        "n_a",
        "n_b",
        F.round(
            F.col("dot")
            / F.nullif(F.sqrt("na") * F.sqrt("nb"), F.lit(0.0)),
            6,
        ).alias("centroid_cosine"),
        F.round(F.sqrt("sq"), 6).alias("centroid_l2"),
    )


ORACLE_CENTROID_DRIFT = f"""WITH cut AS (
  SELECT quantile_cont(vec_id, 0.5) AS c FROM embeddings
),
x AS (
  SELECT label,
         CASE WHEN vec_id < (SELECT c FROM cut) THEN 0 ELSE 1 END AS half,
         i, CAST(embedding[i] AS DOUBLE) AS xi
  FROM embeddings, unnest(generate_series(1, {EMB_DIM})) AS t(i)
),
cent AS (
  SELECT label, i,
         avg(CASE WHEN half = 0 THEN xi END) AS ca,
         avg(CASE WHEN half = 1 THEN xi END) AS cb
  FROM x GROUP BY 1, 2
),
per_label AS (
  SELECT label, sum(ca * cb) AS dot, sum(ca * ca) AS na,
         sum(cb * cb) AS nb, sum((ca - cb) * (ca - cb)) AS sq
  FROM cent GROUP BY 1
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id < (SELECT c FROM cut)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN vec_id >= (SELECT c FROM cut)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM embeddings GROUP BY 1
)
SELECT p.label, c.n_a, c.n_b,
       round(p.dot / nullif(sqrt(p.na) * sqrt(p.nb), 0), 6)
         AS centroid_cosine,
       round(sqrt(p.sq), 6) AS centroid_l2
FROM per_label p JOIN counts c ON p.label = c.label"""

def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return centroid_drift(load_table(spark, sf_dir, "embeddings"))


QUERIES["embedding_centroid_drift"] = (
    q_embedding_centroid_drift,
    ORACLE_CENTROID_DRIFT,
)


# --------------------------------------------- SAX motif / novelty

#: Motifs: top-N recurring day-words per series (must recur).
SAX_MOTIF_TOP = 3


def sax_motifs(s: DataFrame) -> DataFrame:
    """Motif/novelty mining over the SAX words: per series, the top
    ``SAX_MOTIF_TOP`` RECURRING day-words (the typical daily shapes)
    plus every word seen exactly once (novel days — the symbolic
    discord signal).  The word-frequency frame is bounded by #days per
    series, so the per-series ranking window is metadata-scale."""
    # freq is metadata-scale (#series x #day-words) with two consumers
    # (motifs, novel) — unchecked, each re-executed the whole SAX
    # chain from scan (4 executed scans, round-12 audit; the
    # sax_similar_days words-archive precedent).  One lazy checkpoint
    # cuts that to 1; interleaved full-cost A/B at sf0.1: 1.113 ->
    # 1.088 s median-of-7, hash-identical.  Executor-loss caveat: see
    # events_association_rules (relational.py).
    freq = (
        sax_symbols(s)
        .groupBy("metric", "word")
        .agg(F.count("*").cast("bigint").alias("n_days"))
        .transform(cut_lineage)
    )
    w = Window.partitionBy("metric").orderBy(
        F.desc("n_days"), F.asc("word")
    )
    motifs = (
        freq.filter(F.col("n_days") >= 2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAX_MOTIF_TOP)
        .select("metric", "word", "n_days", F.lit("motif").alias("kind"))
    )
    novel = freq.filter(F.col("n_days") == 1).select(
        "metric", "word", "n_days", F.lit("novel").alias("kind")
    )
    return motifs.unionByName(novel)


def q_metric_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sax_motifs(events_series(spark, sf_dir))


ORACLE_SAX_MOTIFS = f"""WITH sax AS ({ORACLE_SAX}),
freq AS (
  SELECT metric, word, CAST(count(*) AS BIGINT) AS n_days
  FROM sax GROUP BY 1, 2
),
ranked AS (
  SELECT metric, word, n_days,
         row_number() OVER (PARTITION BY metric
             ORDER BY n_days DESC, word ASC) AS rk
  FROM freq WHERE n_days >= 2
)
SELECT metric, word, n_days, 'motif' AS kind
FROM ranked WHERE rk <= {SAX_MOTIF_TOP}
UNION ALL
SELECT metric, word, n_days, 'novel' AS kind
FROM freq WHERE n_days = 1"""

QUERIES["metric_sax_motifs"] = (q_metric_sax_motifs, ORACLE_SAX_MOTIFS)


# --------------------------------------- feature-hashing vectorizer

#: Hashing-trick vectorizer: bucket count and buckets reported per doc.
HASH_BUCKETS = 512
HASH_TOP = 3


def feature_hashing_topk(
    docs: DataFrame, n_buckets: int = HASH_BUCKETS, top: int = HASH_TOP
) -> DataFrame:
    """Hashing-trick TF-IDF vectorizer readout: each token hashes to
    one of ``n_buckets`` slots (md5 hex slice — the engine-portable
    hash family used by the minhash operators), per-(doc, bucket)
    weight = sum of tf·idf over the bucket's tokens (collisions add,
    exactly the hashing-trick semantics), and the ``top`` heaviest
    buckets per doc are reported.

    Plan: one corpus-proportional (doc, token) aggregate; idf comes
    from a count window OVER that same tf stream (partitioned by
    token) rather than a separate tok-aggregate joined back — a
    second aggregate makes tf a two-consumer subtree, and Catalyst
    re-executes the whole scan+explode+agg per consumer (round-11
    A/B: executed scans 3 -> 2, output hash-identical, local wall
    neutral; at lake scale the removed consumer is a full second
    corpus read while total shuffle volume is unchanged — the tf
    stream moved twice either way).  The ranking window partitions by
    doc_id over at most ``n_buckets`` rows per doc.  Weights are
    rounded to 6 dp BEFORE ranking so the two engines rank the
    identical set."""
    toks = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    tf = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("bigint") % n_buckets
    )
    weighted = (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("tok")).cast("double")
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            bucket.alias("bucket"),
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias(
                "w"
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.round(F.sum("w"), 6).alias("weight"))
    )
    rank = Window.partitionBy("doc_id").orderBy(
        F.desc("weight"), F.asc("bucket")
    )
    return (
        weighted.withColumn("rk", F.row_number().over(rank).cast("bigint"))
        .filter(F.col("rk") <= top)
        .select("doc_id", "bucket", "weight", "rk")
    )


def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feature_hashing_topk(load_table(spark, sf_dir, "documents"))


ORACLE_FEATURE_HASHING = f"""WITH t AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
  FROM t GROUP BY 1, 2
),
idf AS (
  SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id,
         ('0x' || substr(md5(tf.tok), 1, 8))::BIGINT % {HASH_BUCKETS}
           AS bucket,
         round(sum(tf.tf * ln(n.n_docs / idf.df)), 6) AS weight
  FROM tf JOIN idf USING (tok) CROSS JOIN n
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, bucket, weight,
         CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY weight DESC, bucket ASC) AS BIGINT) AS rk
  FROM w
)
SELECT doc_id, bucket, weight, rk FROM ranked WHERE rk <= {HASH_TOP}"""

QUERIES["text_feature_hashing"] = (
    q_text_feature_hashing,
    ORACLE_FEATURE_HASHING,
)


# --------------------------------------- PCA reconstruction anomaly

#: PCA detector: principal subspace rank kept for reconstruction.
PCA_K = 2


def pca_anomaly_scores(df: DataFrame, features: list, k: int = PCA_K) -> DataFrame:
    """PCA reconstruction-error anomaly scores — the linear twin of the
    LSTM autoencoder (reference train_model.py learns a nonlinear
    reconstruction; this is the classical baseline run beside it).

    Two-phase small-model/big-data split (the pca_fit / kmeans idiom):
    phase 1 aggregates the d-vector of means and the d(d+1)/2 cross
    moments in ONE pass (a single one-row aggregate — constant shuffle
    volume), the d x d eigendecomposition runs driver-side in
    microseconds; phase 2 scores every row with the residual-projector
    QUADRATIC FORM folded into literal expressions — pure whole-stage
    codegen, no Python, no join, no broadcast variable.

    err(x) = || (I - V_k V_k^T)(x - mu) ||^2  (squared distance to the
    principal subspace).  Component signs are canonicalized, so the
    score is deterministic.
    """
    d = len(features)
    aggs = [F.avg(F.col(f)).alias(f"__m{i}") for i, f in enumerate(features)]
    aggs += [
        F.avg(F.col(features[i]) * F.col(features[j])).alias(f"__p{i}_{j}")
        for i in range(d)
        for j in range(i, d)
    ]
    row = df.agg(*aggs).collect()[0]
    if row["__m0"] is None:  # empty frame: no model to fit, no scores
        return df.select(
            "ts", F.lit(0.0).alias("pca_err")
        ).filter(F.lit(False))
    mu = np.array([row[f"__m{i}"] for i in range(d)])
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            cov[i, j] = cov[j, i] = row[f"__p{i}_{j}"] - mu[i] * mu[j]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for r in comps:
        if r[np.argmax(np.abs(r))] < 0:
            r *= -1.0
    # residual projector Q = I - V_k^T V_k (d x d, literal floats)
    q = np.eye(d) - comps.T @ comps
    centered = [F.col(f) - F.lit(float(mu[i])) for i, f in enumerate(features)]
    resid = [
        sum(
            (c * F.lit(float(q[a, b])) for b, c in enumerate(centered)),
            F.lit(0.0),
        )
        for a in range(d)
    ]
    err = sum((e * e for e in resid), F.lit(0.0))
    return df.select("ts", F.round(err, 8).alias("pca_err"))


def q_metric_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import pipeline as P

    df = P.preprocessed(spark, sf_dir)
    return pca_anomaly_scores(df, P.FEATURES)


# eigendecomposition has no SQL twin: rows-only registry entry; pinned
# vs an exact numpy replica and a planted off-subspace anomaly.
QUERIES["metric_pca_scores"] = (q_metric_pca_scores, None)


# --------------------------------------- seasonal robust (MAD) anomaly

#: Modified z-score threshold (Iglewicz–Hoaglin): |0.6745 (x-med)/MAD|
SEASONAL_MAD_Z = 3.5


def seasonal_mad_anomalies(
    s: DataFrame, z_cut: float = SEASONAL_MAD_Z
) -> DataFrame:
    """Seasonal-slot ROBUST anomaly flags: per (series, hour-of-day)
    median/MAD profile, modified z-score per sample, flag |M| >= z_cut.

    The robust twin of operators/promql.seasonal_anomaly (mean/std
    slots): the detector-zoo scorecard (BASELINE.md) shows global
    robust-z is blind inside strong seasonality and the mean/std
    profile is contamination-sensitive — per-slot median/MAD is immune
    to both.  Two metadata-scale profile aggregates (#series x 24 rows)
    broadcast back; the scoring pass is map-only."""
    by_slot = ["metric", F.hour("ts").alias("__h")]
    # Both profile frames are METADATA-scale (#series x 24 rows) with
    # two consumers each (med: the mad chain + scoring; mad: scoring)
    # — unchecked, Catalyst re-executed the corpus scan per consumer
    # (4 executed scans, round-12 audit).  Two lazy checkpoints cut
    # that to 1; interleaved full-cost A/B at sf0.1: 1.178 vs 1.177 s
    # median-of-7 (neutral locally, three avoided full reads at lake
    # scale).  Executor-loss caveat: see events_association_rules
    # (relational.py).
    med = s.groupBy(*by_slot).agg(
        F.expr("percentile(value, 0.5D)").alias("__med")
    ).transform(cut_lineage)
    slotted = s.withColumn("__h", F.hour("ts")).join(
        F.broadcast(med), ["metric", "__h"]
    )
    mad = (
        slotted.withColumn("__ad", F.abs(F.col("value") - F.col("__med")))
        .groupBy("metric", "__h")
        .agg(F.expr("percentile(__ad, 0.5D)").alias("__mad"))
        .transform(cut_lineage)
    )
    scored = slotted.join(F.broadcast(mad), ["metric", "__h"]).withColumn(
        "__m",
        F.lit(0.6745)
        * (F.col("value") - F.col("__med"))
        / F.expr("nullif(__mad, 0D)"),
    )
    return scored.filter(F.abs(F.col("__m")) >= z_cut).select(
        "metric",
        "ts",
        "seq",
        "value",
        F.round("__m", 6).alias("modified_z"),
    )


def q_metric_seasonal_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seasonal_mad_anomalies(events_series(spark, sf_dir))


ORACLE_SEASONAL_MAD = f"""WITH s AS (
  SELECT event_type AS metric, ts, event_id AS seq, value,
         extract(hour FROM ts) AS h
  FROM events
),
med AS (
  SELECT metric, h, quantile_cont(value, 0.5) AS med
  FROM s GROUP BY 1, 2
),
mad AS (
  SELECT s.metric, s.h, quantile_cont(abs(s.value - m.med), 0.5) AS mad
  FROM s JOIN med m ON s.metric = m.metric AND s.h = m.h
  GROUP BY 1, 2
)
SELECT s.metric, s.ts, s.seq, s.value,
       round(0.6745 * (s.value - m.med) / nullif(d.mad, 0), 6)
         AS modified_z
FROM s
JOIN med m ON s.metric = m.metric AND s.h = m.h
JOIN mad d ON s.metric = d.metric AND s.h = d.h
WHERE abs(0.6745 * (s.value - m.med) / nullif(d.mad, 0))
      >= {SEASONAL_MAD_Z}"""

QUERIES["metric_seasonal_mad"] = (
    q_metric_seasonal_mad,
    ORACLE_SEASONAL_MAD,
)


# --------------------------------------- kNN label-noise audit

#: Label audit: anchors = vec_id < KNN_AUDIT_ANCHORS, k neighbours.
KNN_AUDIT_ANCHORS = 32
KNN_AUDIT_K = 10


def knn_label_audit(
    emb: DataFrame,
    n_anchors: int = KNN_AUDIT_ANCHORS,
    k: int = KNN_AUDIT_K,
) -> DataFrame:
    """kNN label-noise audit per anchor: the majority label among the
    ``k`` nearest neighbours (cosine) vs the anchor's own label — the
    classic mislabeled-sample detector run over training corpora
    before fine-tuning.  Ties in the vote break on the LOWER label id.

    Rides the bounded-anchor brute-force top-k
    (operators/similarity.cosine_topk — one broadcast anchor block,
    one candidate map stage); the vote is a ``k``-row-per-anchor
    aggregate, metadata scale."""
    from ..operators.similarity import cosine_topk

    topk = cosine_topk(emb, n_queries=n_anchors, k=k)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("c_id"), F.col("label").alias("c_label")
            ),
            "c_id",
        )
        .groupBy("q_id", "c_label")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("c_label")
    )
    majority = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "q_id", F.col("c_label").alias("knn_label"), "n_votes"
        )
    )
    return (
        majority.join(
            F.broadcast(
                labels.filter(F.col("vec_id") < n_anchors).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("label").alias("own_label"),
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            "own_label",
            "knn_label",
            "n_votes",
            (F.col("own_label") != F.col("knn_label"))
            .cast("int")
            .alias("suspect"),
        )
    )


def q_embedding_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_label_audit(load_table(spark, sf_dir, "embeddings"))


ORACLE_KNN_LABEL_AUDIT = f"""WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS c_label,
         list_dot_product(q.vec, c.vec) / nullif(q.norm * c.norm, 0) AS cosine
  FROM v q, v c
  WHERE q.vec_id < {KNN_AUDIT_ANCHORS} AND q.vec_id != c.vec_id
    AND list_dot_product(q.vec, c.vec) / nullif(q.norm * c.norm, 0)
        IS NOT NULL
),
topk AS (
  SELECT q_id, c_id, c_label,
         row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, c_id ASC) AS rk
  FROM pairs
),
votes AS (
  SELECT q_id, c_label, CAST(count(*) AS BIGINT) AS n_votes
  FROM topk WHERE rk <= {KNN_AUDIT_K} GROUP BY 1, 2
),
maj AS (
  SELECT q_id, c_label AS knn_label, n_votes,
         row_number() OVER (PARTITION BY q_id
             ORDER BY n_votes DESC, c_label ASC) AS vr
  FROM votes
)
SELECT m.q_id, e.label AS own_label, m.knn_label, m.n_votes,
       CAST(e.label != m.knn_label AS INT) AS suspect
FROM maj m JOIN embeddings e ON m.q_id = e.vec_id
WHERE m.vr = 1"""

QUERIES["embedding_knn_label_audit"] = (
    q_embedding_knn_label_audit,
    ORACLE_KNN_LABEL_AUDIT,
)


# --------------------------------------- SAX similarity search

#: Similar-day report size per series.
SAX_SIM_TOP = 3


def _mindist_expr(w1: str, w2: str) -> str:
    """SQL for the SAX MINDIST between two equal-length words (Lin et
    al.'s lookup table for the 4-symbol alphabet: adjacent symbols cost
    0, else the breakpoint gap).  Pure codegen — a fold over the
    character positions; engine-portable (Spark and DuckDB both run
    it verbatim via their higher-order list functions)."""
    b1, b2, b3 = SAX_BREAKPOINTS
    # symbol-index gap -> squared cost: adjacent symbols are free,
    # a..c / b..d cross ONE breakpoint span (b2-b1 == b3-b2 == 0.6745
    # for the N(0,1) quartiles), a..d crosses the full b3-b1 span
    gap2_sq = (b2 - b1) ** 2
    gap3_sq = (b3 - b1) ** 2
    return (
        f"sqrt(aggregate(sequence(1, length({w1})), 0.0D, (acc, p) -> "
        f"acc + (CASE WHEN abs((ascii(substr({w1}, p, 1)) - 97) - "
        f"(ascii(substr({w2}, p, 1)) - 97)) <= 1 THEN 0.0D "
        f"WHEN abs((ascii(substr({w1}, p, 1)) - 97) - "
        f"(ascii(substr({w2}, p, 1)) - 97)) = 2 "
        f"THEN {gap2_sq}D "
        f"ELSE {gap3_sq}D END)))"
    )


def sax_similar_days(s: DataFrame, top: int = SAX_SIM_TOP) -> DataFrame:
    """SAX similarity search: for each series, the ``top`` archive days
    whose SAX word sits closest (MINDIST) to the LATEST day's word —
    'which historical days looked like today?', the retrieval the SAX
    representation exists for.  Only same-segment-count days compete
    (MINDIST is defined over equal-length words).

    The archive is the words frame (one row per series-day — metadata
    scale next to the raw samples), so the query-day join, the
    distance fold, and the top-k window all run on #series x #days
    rows.  The frame feeds THREE consumers (latest, the query-day
    projection, the candidate side) and Catalyst re-executed the raw
    SAX rollup chain per consumer (6 executed scans, round-12 audit) —
    one lazy checkpoint of the tiny frame fixes it.  Executor-loss
    caveat: see events_association_rules (relational.py)."""
    words = sax_symbols(s).transform(cut_lineage)
    latest = words.groupBy("metric").agg(F.max("day").alias("qday"))
    query = (
        words.join(F.broadcast(latest), "metric")
        .filter(F.col("day") == F.col("qday"))
        .select(
            "metric",
            F.col("day").alias("qday"),
            F.col("word").alias("qword"),
            F.col("n_segments").alias("qn"),
        )
    )
    cand = (
        words.join(F.broadcast(query), "metric")
        .filter(
            (F.col("day") != F.col("qday")) & (F.col("n_segments") == F.col("qn"))
        )
        .withColumn(
            "mindist",
            F.round(F.expr(_mindist_expr("word", "qword")), 6),
        )
    )
    w = Window.partitionBy("metric").orderBy(F.asc("mindist"), F.asc("day"))
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= top)
        .select("metric", "qday", "day", "word", "mindist", "rk")
    )


def q_metric_sax_similar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sax_similar_days(events_series(spark, sf_dir))


_SQ2 = 0.6744897501960817 ** 2
_SQ3 = (2 * 0.6744897501960817) ** 2

ORACLE_SAX_SIMILAR = f"""WITH sax AS ({ORACLE_SAX}),
latest AS (
  SELECT metric, max(day) AS qday FROM sax GROUP BY 1
),
q AS (
  SELECT s.metric, s.day AS qday, s.word AS qword,
         s.n_segments AS qn
  FROM sax s JOIN latest l ON s.metric = l.metric AND s.day = l.qday
),
cand AS (
  SELECT s.metric, q.qday, s.day, s.word,
         round(sqrt(list_sum(list_transform(range(1, len(s.word) + 1),
           p -> CASE
             WHEN abs((ascii(substr(s.word, p, 1)) - 97)
                  - (ascii(substr(q.qword, p, 1)) - 97)) <= 1 THEN 0.0
             WHEN abs((ascii(substr(s.word, p, 1)) - 97)
                  - (ascii(substr(q.qword, p, 1)) - 97)) = 2
               THEN {_SQ2}
             ELSE {_SQ3} END))), 6) AS mindist
  FROM sax s JOIN q ON s.metric = q.metric
  WHERE s.day != q.qday AND s.n_segments = q.qn
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY metric
      ORDER BY mindist ASC, day ASC) AS BIGINT) AS rk
  FROM cand
)
SELECT metric, qday, day, word, mindist, rk
FROM ranked WHERE rk <= {SAX_SIM_TOP}"""

QUERIES["metric_sax_similar_days"] = (
    q_metric_sax_similar_days,
    ORACLE_SAX_SIMILAR,
)


# --------------------------------------- LSH bucket-blowup profile

def q_dedup_lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH bucket diagnostics — the candidate-blowup tuning
    readout run BEFORE a 100-TB dedup: bucket count, the largest and
    p99 bucket, the total candidate pairs the buckets will generate
    (sum of nC2 per bucket — the verify-join's input size), and the
    share of those pairs coming from the single hottest bucket.  A hot
    bucket (template boilerplate, empty docs sharing a signature)
    turns LSH quadratic; this is the query that catches it first.

    Everything after the signature aggregate is bucket-cardinality
    scale; one row out."""
    from ..operators.dedup import (
        _docs,
        lsh_buckets,
        minhash_signatures,
        pre_key_docs,
    )

    # pre_key (round-11 flip): the signature aggregate groups by doc_id,
    # so keying the RAW docs before the shingle fan-out moves the only
    # exchange below 1x corpus bytes instead of the amplified stream.
    sigs = minhash_signatures(pre_key_docs(_docs(spark, sf_dir)), gate=False)
    bs = lsh_buckets(sigs).groupBy("band", "bucket").agg(
        F.count("*").cast("double").alias("sz")
    )
    pairs = F.col("sz") * (F.col("sz") - 1) / 2
    return bs.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.round(F.expr("percentile(sz, 0.99D)"), 6).alias("p99_bucket"),
        F.sum(pairs).cast("bigint").alias("candidate_pairs"),
        F.round(
            (F.max("sz") * (F.max("sz") - 1) / 2)
            / F.nullif(F.sum(pairs), F.lit(0.0)),
            6,
        ).alias("top_bucket_pair_share"),
    )


def _lsh_profile_oracle() -> str:
    from ..operators.dedup import _band_select, _shingle_cte, _sig_cols

    return f"""WITH {_shingle_cte()},
sigs AS (
  SELECT doc_id, {_sig_cols()}
  FROM sh GROUP BY doc_id
),
buckets AS (
{_band_select()}
),
bs AS (
  SELECT band, bucket, CAST(count(*) AS DOUBLE) AS sz
  FROM buckets GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(sz) AS BIGINT) AS max_bucket,
       round(quantile_cont(sz, 0.99), 6) AS p99_bucket,
       CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs,
       round((max(sz) * (max(sz) - 1) / 2)
             / nullif(sum(sz * (sz - 1) / 2), 0), 6)
         AS top_bucket_pair_share
FROM bs"""


QUERIES["dedup_lsh_bucket_profile"] = (
    q_dedup_lsh_bucket_profile,
    _lsh_profile_oracle(),
)


# --------------------------------------- hot-shingle (boilerplate) report

#: Boilerplate report size.
HOT_SHINGLE_TOP = 50


def q_dedup_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The follow-up action to dedup_lsh_bucket_profile: WHICH n-grams
    are the boilerplate — top shingles by document frequency with their
    corpus share.  At 100 TB these become the stop-shingle list that is
    excluded from shingling (the LSH analogue of stopword removal) so
    template text cannot create hot buckets.  One (shingle -> doc
    count) aggregate, TakeOrderedAndProject top-k."""
    from ..operators.dedup import _docs, shingles

    sh = shingles(_docs(spark, sf_dir))
    n_docs = sh.select("doc_id").distinct().count()
    freq = sh.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("doc_freq")
    )
    return (
        freq.select(
            "shingle",
            "doc_freq",
            F.round(F.col("doc_freq") / F.lit(float(n_docs)), 6).alias(
                "doc_share"
            ),
        )
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(HOT_SHINGLE_TOP)
    )


def _hot_shingles_oracle() -> str:
    from ..operators.dedup import _shingle_cte

    return f"""WITH {_shingle_cte()},
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM sh),
freq AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
  FROM sh GROUP BY 1
)
SELECT shingle, doc_freq,
       round(doc_freq / n.n_docs, 6) AS doc_share
FROM freq CROSS JOIN n
ORDER BY doc_freq DESC, shingle ASC
LIMIT {HOT_SHINGLE_TOP}"""


QUERIES["dedup_hot_shingles"] = (
    q_dedup_hot_shingles,
    _hot_shingles_oracle(),
)


# --------------------------------------- Kaplan-Meier reorder survival

def q_orders_km_reorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve for "time until the customer orders again":
    consecutive-order gaps are events, each customer's tail (last order
    to the dataset horizon) is a CENSORED observation — the survival
    estimate S(t) = prod_{t_i <= t} (1 - d_i / n_i) over event times,
    the churn readout a naive gap-average gets wrong by ignoring
    censoring.

    Plan: one custkey lag window builds durations; everything after is
    the duration-histogram frame (#distinct gap lengths — metadata
    scale), where the at-risk counts and the running product (as
    exp-sum-log, zero factors handled exactly) are ordered windows
    under a single-partition key.  The dataset horizon is a one-row
    broadcast."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = load_table(spark, sf_dir, "orders")
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    durs = (
        orders.withColumn("nxt", F.lead("o_orderdate").over(w))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("nxt").isNotNull(),
                F.datediff(F.to_date("nxt"), F.to_date("o_orderdate")),
            )
            .otherwise(
                F.datediff(F.to_date("h"), F.to_date("o_orderdate"))
            )
            .alias("dur"),
            F.col("nxt").isNotNull().cast("int").alias("event"),
        )
    )
    hist = durs.groupBy("dur").agg(
        F.count("*").cast("double").alias("n_total"),
        F.sum("event").cast("double").alias("n_events"),
    )
    total = hist.agg(F.sum("n_total").alias("n")).first()["n"]
    if total is None:  # empty orders table: no curve
        return hist.select(
            F.col("dur").cast("bigint").alias("dur_days"),
            F.lit(0).cast("bigint").alias("n_risk"),
            F.lit(0).cast("bigint").alias("n_events"),
            F.lit(0.0).alias("survival"),
        ).filter(F.lit(False))
    ow = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = (
        hist.withColumn(
            "n_risk",
            F.lit(float(total)) - F.coalesce(F.sum("n_total").over(ow), F.lit(0.0)),
        )
        .filter(F.col("n_events") > 0)
        .withColumn("factor", 1 - F.col("n_events") / F.col("n_risk"))
        .withColumn(
            "n_zero",
            F.sum((F.col("factor") <= 0).cast("int")).over(run),
        )
        .withColumn(
            "survival",
            F.when(F.col("n_zero") > 0, F.lit(0.0)).otherwise(
                F.exp(F.sum(F.log(F.col("factor"))).over(run))
            ),
        )
    )
    return km.select(
        F.col("dur").cast("bigint").alias("dur_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("survival", 6).alias("survival"),
    )


ORACLE_KM_REORDER = """WITH h AS (
  SELECT max(o_orderdate) AS horizon FROM orders
),
d AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(nxt AS DATE))
              ELSE date_diff('day', CAST(o_orderdate AS DATE),
                             CAST((SELECT horizon FROM h) AS DATE)) END
           AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (
    SELECT o_orderdate,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nxt
    FROM orders
  )
),
hist AS (
  SELECT dur, CAST(count(*) AS DOUBLE) AS n_total,
         CAST(sum(event) AS DOUBLE) AS n_events
  FROM d GROUP BY 1
),
km AS (
  SELECT dur, n_events,
         (SELECT sum(n_total) FROM hist)
           - coalesce(sum(n_total) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM hist
),
ev AS (
  SELECT dur, n_risk, n_events,
         1 - n_events / n_risk AS factor
  FROM km WHERE n_events > 0
),
s AS (
  SELECT dur, n_risk, n_events,
         sum(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
           OVER (ORDER BY dur) AS n_zero,
         sum(ln(nullif(factor, 0))) OVER (ORDER BY dur) AS lnsum
  FROM ev
)
SELECT CAST(dur AS BIGINT) AS dur_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       round(CASE WHEN n_zero > 0 THEN 0.0 ELSE exp(lnsum) END, 6)
         AS survival
FROM s"""

QUERIES["orders_km_reorder_curve"] = (
    q_orders_km_reorder_curve,
    ORACLE_KM_REORDER,
)


# --------------------------------------- CUPED-adjusted A/B readout

#: Experiment split: pre-period (covariate) / post-period (metric).
CUPED_SPLIT = "2024-01-15 00:00:00"


def q_events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al.,
    WSDM 2013 — the standard trick in every experimentation platform):
    per-user POST-period spend Y adjusted by the PRE-period covariate
    X, Y' = Y - theta (X - mean X) with theta = cov(X, Y)/var(X)
    pooled across variants.  Reports, per variant, the raw and
    adjusted metric variance and the variance-reduction share — the
    sensitivity gain the experiment gets for free from history.

    Plan: one per-user conditional aggregate over the stream; theta
    and mean-X are a ONE-ROW aggregate broadcast back; the per-variant
    rollup is 2 rows.  Nothing after the user rollup exceeds metadata
    scale."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < split, F.col("value"))),
                F.lit(0.0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= split, F.col("value"))),
                F.lit(0.0),
            ).alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    pooled = per_user.agg(
        (F.covar_pop("x", "y") / F.expr("nullif(var_pop(x), 0D)")).alias(
            "theta"
        ),
        F.avg("x").alias("mx"),
    )
    adj = per_user.crossJoin(F.broadcast(pooled)).withColumn(
        "y_adj",
        F.col("y") - F.col("theta") * (F.col("x") - F.col("mx")),
    )
    return (
        adj.groupBy("variant")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(F.avg("y"), 6).alias("mean_y"),
            F.round(F.var_samp("y"), 6).alias("var_y"),
            F.round(F.avg("y_adj"), 6).alias("mean_y_adj"),
            F.round(F.var_samp("y_adj"), 6).alias("var_y_adj"),
            F.round(
                1 - F.var_samp("y_adj") / F.expr("nullif(var_samp(y), 0D)"),
                6,
            ).alias("var_reduction"),
        )
    )


ORACLE_AB_CUPED = f"""WITH u AS (
  SELECT user_id,
         coalesce(sum(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'
                           THEN value END), 0) AS x,
         coalesce(sum(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                           THEN value END), 0) AS y,
         CAST(user_id % 2 AS INT) AS variant
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
pooled AS (
  SELECT covar_pop(x, y) / nullif(var_pop(x), 0) AS theta,
         avg(x) AS mx
  FROM u
),
adj AS (
  SELECT u.variant, u.y,
         u.y - p.theta * (u.x - p.mx) AS y_adj
  FROM u CROSS JOIN pooled p
)
SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
       round(avg(y), 6) AS mean_y,
       round(var_samp(y), 6) AS var_y,
       round(avg(y_adj), 6) AS mean_y_adj,
       round(var_samp(y_adj), 6) AS var_y_adj,
       round(1 - var_samp(y_adj) / nullif(var_samp(y), 0), 6)
         AS var_reduction
FROM adj GROUP BY 1"""

QUERIES["events_ab_cuped"] = (q_events_ab_cuped, ORACLE_AB_CUPED)


# --------------------------------------- A/B power / sample size

#: Two-sided alpha=0.05 and power=0.8 normal quantiles, and the
#: minimum detectable effect as a share of the control mean.
POWER_Z_ALPHA = 1.959963984540054   # Phi^-1(0.975)
POWER_Z_BETA = 0.8416212335729143   # Phi^-1(0.8)
POWER_MDE_SHARE = 0.05


def q_events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis: the per-variant sample size required
    to detect a ``POWER_MDE_SHARE`` lift at alpha=0.05 / power=0.8 —
    n = 2 (z_a + z_b)^2 sigma^2 / delta^2 — computed TWICE, from the
    raw metric variance and from the CUPED-adjusted variance
    (events_ab_cuped's output), so the row quantifies how many users
    the covariate adjustment saves.  Everything after the per-user
    rollup is one- and two-row frames."""
    cuped = q_events_ab_cuped(spark, sf_dir)
    ctrl = cuped.filter(F.col("variant") == 0)
    z2 = (POWER_Z_ALPHA + POWER_Z_BETA) ** 2
    delta = F.col("mean_y") * POWER_MDE_SHARE
    n_raw = 2 * z2 * F.col("var_y") / (delta * delta)
    n_adj = 2 * z2 * F.col("var_y_adj") / (delta * delta)
    return ctrl.select(
        F.round(delta, 6).alias("mde_abs"),
        F.ceil(n_raw).cast("bigint").alias("n_required_raw"),
        F.ceil(n_adj).cast("bigint").alias("n_required_cuped"),
        F.round(1 - n_adj / n_raw, 6).alias("users_saved_share"),
    )


_Z2 = (POWER_Z_ALPHA + POWER_Z_BETA) ** 2

ORACLE_AB_POWER = f"""WITH cuped AS ({ORACLE_AB_CUPED})
SELECT round(mean_y * {POWER_MDE_SHARE}, 6) AS mde_abs,
       CAST(ceil(2 * {_Z2} * var_y
            / ((mean_y * {POWER_MDE_SHARE})
               * (mean_y * {POWER_MDE_SHARE}))) AS BIGINT)
         AS n_required_raw,
       CAST(ceil(2 * {_Z2} * var_y_adj
            / ((mean_y * {POWER_MDE_SHARE})
               * (mean_y * {POWER_MDE_SHARE}))) AS BIGINT)
         AS n_required_cuped,
       round(1 - var_y_adj / var_y, 6) AS users_saved_share
FROM cuped WHERE variant = 0"""

QUERIES["events_ab_power"] = (q_events_ab_power, ORACLE_AB_POWER)


# --------------------------------------- Dickey-Fuller stationarity

#: 5% critical value of the DF tau_mu distribution (constant, large n).
DF_CRIT_5PCT = -2.86


def df_stationarity(s: DataFrame) -> DataFrame:
    """Dickey-Fuller unit-root test per series (constant, no lag
    augmentation): regress delta_y on y_{t-1} over the hourly rollup
    and report the tau statistic — tau << 0 rejects the unit root,
    i.e. the series is mean-reverting/stationary (the check run before
    trusting z-score detectors or ARIMA-family forecasts).

    The OLS is CLOSED FORM from five sums (Sxx, Sxy, Syy, n, rho):
    tau = rho / sqrt((Syy - Sxy^2/Sxx) / (n-2) / Sxx) — one lag window
    over the hourly rollup and one aggregate per series; no iteration,
    no Python."""
    hourly = s.groupBy(
        "metric", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.avg("value").alias("y"))
    w = Window.partitionBy("metric").orderBy("h")
    lagged = (
        hourly.withColumn("x", F.lag("y").over(w))
        .filter(F.col("x").isNotNull())
        .withColumn("d", F.col("y") - F.col("x"))
    )
    agg = lagged.groupBy("metric").agg(
        F.count("*").cast("double").alias("n"),
        (F.covar_pop("x", "d") * F.count("*")).alias("sxy"),
        (F.var_pop("x") * F.count("*")).alias("sxx"),
        (F.var_pop("d") * F.count("*")).alias("syy"),
    )
    rho = F.col("sxy") / F.expr("nullif(sxx, 0D)")
    ssr = F.col("syy") - F.col("sxy") * F.col("sxy") / F.expr(
        "nullif(sxx, 0D)"
    )
    tau = rho / F.sqrt(
        ssr / (F.col("n") - 2) / F.expr("nullif(sxx, 0D)")
    )
    return agg.select(
        "metric",
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(rho, 6).alias("rho"),
        F.round(tau, 6).alias("df_tau"),
        (tau < DF_CRIT_5PCT).cast("int").alias("stationary_5pct"),
    )


def q_metric_df_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return df_stationarity(events_series(spark, sf_dir))


ORACLE_DF_STATIONARITY = f"""WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS h,
         avg(value) AS y
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT metric, y,
         lag(y) OVER (PARTITION BY metric ORDER BY h) AS x
  FROM hourly
),
d AS (
  SELECT metric, x, y - x AS d FROM lagged WHERE x IS NOT NULL
),
agg AS (
  SELECT metric, CAST(count(*) AS DOUBLE) AS n,
         covar_pop(x, d) * count(*) AS sxy,
         var_pop(x) * count(*) AS sxx,
         var_pop(d) * count(*) AS syy
  FROM d GROUP BY 1
)
SELECT metric, CAST(n AS BIGINT) AS n_obs,
       round(sxy / nullif(sxx, 0), 6) AS rho,
       round((sxy / nullif(sxx, 0))
             / sqrt((syy - sxy * sxy / nullif(sxx, 0)) / (n - 2)
                    / nullif(sxx, 0)), 6) AS df_tau,
       CAST((sxy / nullif(sxx, 0))
            / sqrt((syy - sxy * sxy / nullif(sxx, 0)) / (n - 2)
                   / nullif(sxx, 0)) < {DF_CRIT_5PCT} AS INT)
         AS stationary_5pct
FROM agg"""

QUERIES["metric_df_stationarity"] = (
    q_metric_df_stationarity,
    ORACLE_DF_STATIONARITY,
)


# ------------------------------------------- ramp / drift detection

#: |OLS slope| floor (value-units per hour) below which a series is
#: "flat" regardless of the stationarity verdict — keeps numerically
#: tiny trends on high-n series from alarming.
RAMP_MIN_SLOPE = 1e-4


def ramp_detect(s: DataFrame) -> DataFrame:
    """Slow-drift (ramp) detector per series — the production form of
    the detector-zoo scenario-D protocol (BASELINE.md, round 6).

    Point detectors are structurally blind to a +0.025 sigma/hour
    drift (each hour is near-normal for its slot), and trend
    instruments applied to RAW samples are season-dominated (measured:
    the diurnal slope swamps the drift on both arms).  The protocol
    that separates the arms decisively is: roll up to the SEASONAL
    PERIOD (daily means — removes the cycle exactly), then test the
    trend two ways on the day-cardinality frame:

    - OLS slope of daily mean vs epoch-hours (regr_slope — one
      closed-form aggregate);
    - Dickey-Fuller tau on the daily series (drifting series fail to
      reject the unit root: tau lands near/above 0 while stationary
      controls land below the -2.86 critical value).

    ``drifting = 1`` when the series BOTH fails stationarity and moves
    at a material rate.  Everything after the daily rollup is
    metadata-scale (one row per series-day, then one per series).
    """
    daily = s.groupBy(
        "metric", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("y"))
    daily = daily.withColumn(
        "eh", ntz_epoch_seconds("day") / F.lit(3600.0)
    )
    w = Window.partitionBy("metric").orderBy("day")
    lagged = daily.withColumn("x", F.lag("y").over(w)).withColumn(
        "d", F.col("y") - F.col("x")
    )
    # covar_pop/var_pop skip NULL pairs, so the first day per series
    # (x IS NULL) drops out of the DF sums while regr_slope still sees
    # every day
    agg = lagged.groupBy("metric").agg(
        F.count("x").cast("double").alias("n"),
        F.expr("regr_slope(y, eh)").alias("slope"),
        (F.covar_pop("x", "d") * F.count("x")).alias("sxy"),
        (F.var_pop("x") * F.count("x")).alias("sxx"),
        (F.var_pop("d") * F.count("x")).alias("syy"),
    )
    rho = F.col("sxy") / F.expr("nullif(sxx, 0D)")
    ssr = F.col("syy") - F.col("sxy") * F.col("sxy") / F.expr(
        "nullif(sxx, 0D)"
    )
    tau = rho / F.sqrt(
        ssr / (F.col("n") - 2) / F.expr("nullif(sxx, 0D)")
    )
    nonstat = tau >= F.lit(DF_CRIT_5PCT)
    material = F.abs(F.col("slope")) >= F.lit(RAMP_MIN_SLOPE)
    return agg.select(
        "metric",
        (F.col("n") + 1).cast("bigint").alias("n_days"),
        F.round("slope", 6).alias("slope_per_hour"),
        F.round(tau, 6).alias("df_tau"),
        (nonstat & material).cast("int").alias("drifting"),
    )


def q_metric_ramp_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ramp_detect(events_series(spark, sf_dir))


ORACLE_RAMP_DETECT = f"""WITH daily AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day,
         avg(value) AS y
  FROM events GROUP BY 1, 2
),
e AS (
  SELECT metric, day, y, epoch(day) / 3600.0 AS eh FROM daily
),
lagged AS (
  SELECT metric, y, eh,
         lag(y) OVER (PARTITION BY metric ORDER BY day) AS x
  FROM e
),
d AS (SELECT metric, y, eh, x, y - x AS d FROM lagged),
agg AS (
  SELECT metric, CAST(count(x) AS DOUBLE) AS n,
         regr_slope(y, eh) AS slope,
         covar_pop(x, d) * count(x) AS sxy,
         var_pop(x) * count(x) AS sxx,
         var_pop(d) * count(x) AS syy
  FROM d GROUP BY 1
)
SELECT metric, CAST(n + 1 AS BIGINT) AS n_days,
       round(slope, 6) AS slope_per_hour,
       round((sxy / nullif(sxx, 0))
             / sqrt((syy - sxy * sxy / nullif(sxx, 0)) / (n - 2)
                    / nullif(sxx, 0)), 6) AS df_tau,
       CAST(((sxy / nullif(sxx, 0))
             / sqrt((syy - sxy * sxy / nullif(sxx, 0)) / (n - 2)
                    / nullif(sxx, 0)) >= {DF_CRIT_5PCT})
            AND abs(slope) >= {RAMP_MIN_SLOPE} AS INT) AS drifting
FROM agg"""

QUERIES["metric_ramp_detect"] = (q_metric_ramp_detect, ORACLE_RAMP_DETECT)
