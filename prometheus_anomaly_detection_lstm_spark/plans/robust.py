"""Robust-statistics / SPC / corpus-law plans (round-5 continuation).

Engine-completeness surface extending the reference's anomaly-detection
premise (vpuhoff/prometheus-anomaly-detection-lstm detects anomalies on
Prometheus series with an LSTM; these are the classic statistical
monitors and corpus diagnostics run beside such a model):

- ``metric_cusum_anomalies`` — two-sided CUSUM control chart per
  series.  The recursive SPC statistic S_t = max(0, S_{t-1} + z_t - K)
  is NOT a plain window aggregate, but it has a closed form over prefix
  sums: with C_t = sum(z_j - K, j<=t), S_t = C_t - min(0, min_{j<=t}
  C_j) — so the whole chart is two running-frame window functions, no
  recursion, no UDF.  One exchange on the series key.
- ``metric_theil_sen_trend`` — Theil-Sen robust slope per series:
  median of pairwise slopes over hourly means, pairs bounded to an
  index lag of ``TS_MAX_LAG`` so pair volume is O(rows x lag), never
  O(rows^2).  The lag join is an equi-join on (metric, lag-bucket)
  with a two-bucket probe fan-out — the same bucketed range-join idiom
  as range_join_interval_counts (no nested loop).
- ``text_char_entropy`` — per-document character-level Shannon entropy
  + distinct-char count: the standard gibberish/binary-noise quality
  signal in web-corpus filtering.  Explode is linear in corpus bytes
  (same cost class as shingling); one exchange on (doc_id, char).
- ``corpus_zipf_fit`` — OLS fit of log(freq) ~ log(rank) over the
  top-``ZIPF_RANKS`` tokens (Zipf's law exponent, the classic corpus
  health readout).  Top-k by TakeOrderedAndProject (partial top-k per
  partition, no global sort); the rank window runs on the k-row result
  under an explicit metadata-scale single-partition key.
- ``events_funnel_timing`` — time-to-convert percentiles between
  funnel stages (signup->click->purchase), conditional-min stage
  timestamps per user then exact interpolated percentiles; one shuffle
  on user_id.
- ``events_heavy_hitters`` — phi-heavy-hitters by the mergeable
  Misra-Gries sketch + exact rescan: per-partition MG summaries (k =
  ``MG_K`` counters, Arrow-batched) guarantee every item with global
  frequency >= n/(MG_K+1) survives as a candidate; a broadcast
  semi-join rescan computes exact counts for candidates only, so the
  emitted set is EXACT (hash-green vs the plain GROUP BY oracle)
  while the full-table aggregation state is capped at k per partition
  — the sketch-then-rescan pattern that replaces a 100-TB-wide
  group-by with a bounded-state scan plus a candidates-only join.

Scale notes (100 TB): every operator's only data-proportional exchange
is a hash partition on its natural key (metric / doc_id / user_id);
windows are running or bounded frames; the single BNLJ (heavy-hitters
total-count denominator) broadcasts a one-row aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ntz_epoch_seconds, single_partition_key
from ..io_tables import load_table
from ..functions.checkpoint import cut_lineage

QUERIES: dict = {}

#: CUSUM reference drift (in sigma units) and decision threshold —
#: the textbook K=0.5, H=5 tuning (detects ~1-sigma mean shifts).
CUSUM_K = 0.5
CUSUM_H = 5.0
#: Theil-Sen: max index lag between paired hourly samples.
TS_MAX_LAG = 24
#: Zipf fit: number of top token ranks regressed.
ZIPF_RANKS = 200
#: Heavy hitters: report items with frequency >= PHI * n (exact).
HH_PHI = 0.0075
#: Misra-Gries counters per partition; completeness for HH_PHI needs
#: MG_K + 1 >= 2 / HH_PHI (= 267); 400 leaves margin.
MG_K = 400


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared sample-stream adapter (io_tables.events_series)."""
    from ..io_tables import events_series

    return events_series(spark, sf_dir)


# --------------------------------------------------------------- CUSUM

def cusum_anomalies(s: DataFrame, k: float = CUSUM_K, h: float = CUSUM_H) -> DataFrame:
    """Two-sided CUSUM exceedances per series.

    z_t standardizes against the per-series population mean/std; the
    upper chart S+_t = max(0, S+_{t-1} + z_t - k) is computed closed-
    form as C_t - min(0, running_min(C_t)) with C the running sum of
    (z - k) — ditto the lower chart on -z.  Rows where either side
    exceeds ``h`` are emitted.  Plan: one hashpartitioning(metric)
    exchange feeding one whole-partition window (mean/std) and one
    ordered running window (sum + min) — no recursion, no Python.
    """
    by_series = Window.partitionBy("metric")
    run = (
        Window.partitionBy("metric")
        .orderBy("ts", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        s.withColumn("mu", F.avg("value").over(by_series))
        .withColumn("sd", F.stddev_pop("value").over(by_series))
        .filter(F.col("sd") > 0)
        .withColumn("z", (F.col("value") - F.col("mu")) / F.col("sd"))
    )
    d = (
        d.withColumn("c_pos", F.sum(F.col("z") - F.lit(k)).over(run))
        .withColumn("c_neg", F.sum(-F.col("z") - F.lit(k)).over(run))
        .withColumn(
            "s_pos", F.col("c_pos") - F.least(F.lit(0.0), F.min("c_pos").over(run))
        )
        .withColumn(
            "s_neg", F.col("c_neg") - F.least(F.lit(0.0), F.min("c_neg").over(run))
        )
    )
    return (
        d.filter((F.col("s_pos") > h) | (F.col("s_neg") > h))
        .select(
            "metric",
            "ts",
            "seq",
            F.round("s_pos", 6).alias("cusum_pos"),
            F.round("s_neg", 6).alias("cusum_neg"),
            F.when(F.col("s_pos") > h, F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("side"),
        )
    )


def q_metric_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum_anomalies(_series(spark, sf_dir))


ORACLE_CUSUM = f"""WITH z AS (
  SELECT event_type AS metric, ts, event_id AS seq,
         (value - avg(value) OVER (PARTITION BY event_type))
           / stddev_pop(value) OVER (PARTITION BY event_type) AS z,
         stddev_pop(value) OVER (PARTITION BY event_type) AS sd
  FROM events
), c AS (
  SELECT metric, ts, seq,
    sum(z - {CUSUM_K}) OVER w AS c_pos,
    sum(-z - {CUSUM_K}) OVER w AS c_neg
  FROM z WHERE sd > 0
  WINDOW w AS (PARTITION BY metric ORDER BY ts, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT metric, ts, seq,
    c_pos - least(0, min(c_pos) OVER w) AS s_pos,
    c_neg - least(0, min(c_neg) OVER w) AS s_neg
  FROM c
  WINDOW w AS (PARTITION BY metric ORDER BY ts, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT metric, ts, seq, round(s_pos, 6) AS cusum_pos,
       round(s_neg, 6) AS cusum_neg,
       CASE WHEN s_pos > {CUSUM_H} THEN 'high' ELSE 'low' END AS side
FROM s WHERE s_pos > {CUSUM_H} OR s_neg > {CUSUM_H}"""


# ----------------------------------------------------------- Theil-Sen

def theil_sen_trend(s: DataFrame, max_lag: int = TS_MAX_LAG) -> DataFrame:
    """Theil-Sen robust slope per series over hourly means.

    Pairs (i, j) with 0 < j - i <= max_lag; slope in value-units per
    hour using true epoch-hour spacing.  The lag join is an equi-join
    on (metric, bucket) where bucket = floor(index / max_lag) and the
    earlier row probes its own and the next bucket — pair volume is
    O(rows x max_lag).  Output: exact interpolated median slope.
    """
    hourly = s.groupBy(
        "metric", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.avg("value").alias("v"))
    idx = Window.partitionBy("metric").orderBy("hour")
    hourly = hourly.withColumn("i", F.row_number().over(idx)).withColumn(
        "eh", ntz_epoch_seconds("hour") / F.lit(3600.0)
    )
    hourly = hourly.withColumn(
        "b", F.floor((F.col("i") - 1) / F.lit(max_lag))
    )
    left = hourly.select(
        "metric",
        F.col("i").alias("i1"),
        F.col("eh").alias("eh1"),
        F.col("v").alias("v1"),
        F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("probe"),
    )
    right = hourly.select(
        "metric",
        F.col("b").alias("probe"),
        F.col("i").alias("i2"),
        F.col("eh").alias("eh2"),
        F.col("v").alias("v2"),
    )
    pairs = left.join(right, ["metric", "probe"]).filter(
        (F.col("i2") > F.col("i1")) & (F.col("i2") <= F.col("i1") + max_lag)
    )
    slopes = pairs.select(
        "metric",
        ((F.col("v2") - F.col("v1")) / (F.col("eh2") - F.col("eh1"))).alias(
            "slope"
        ),
    )
    return (
        slopes.groupBy("metric")
        .agg(
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias("theil_sen_slope"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theil_sen_trend(_series(spark, sf_dir))


ORACLE_THEIL_SEN = f"""WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT metric, v, epoch(hour) / 3600.0 AS eh,
         row_number() OVER (PARTITION BY metric ORDER BY hour) AS i
  FROM hourly
), pairs AS (
  SELECT a.metric, (b.v - a.v) / (b.eh - a.eh) AS slope
  FROM idx a JOIN idx b
    ON a.metric = b.metric AND b.i > a.i AND b.i <= a.i + {TS_MAX_LAG}
)
SELECT metric, round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY metric"""


# ------------------------------------------------------- char entropy

def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) +
    distinct-char count — low entropy flags repeated-char spam, high
    entropy flags base64/binary noise.  H = log2(n) - sum(c*log2(c))/n
    over exact char counts, so both engines evaluate the identical
    expression tree on identical integers."""
    chars = docs.select(
        "doc_id",
        F.explode(
            F.expr(r"regexp_extract_all(text, '[\\s\\S]', 0)")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_chars_total"),
            F.count("*").cast("bigint").alias("distinct_chars"),
            F.round(
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
                6,
            ).alias("char_entropy"),
        )
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy(load_table(spark, sf_dir, "documents"))


ORACLE_CHAR_ENTROPY = r"""WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
  FROM documents
), counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_total,
       CAST(count(*) AS BIGINT) AS distinct_chars,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS char_entropy
FROM counts GROUP BY doc_id"""


# ------------------------------------------------------------ Zipf fit

def zipf_fit(docs: DataFrame, n_ranks: int = ZIPF_RANKS) -> DataFrame:
    """OLS fit of ln(freq) ~ ln(rank) over the top-``n_ranks`` tokens.

    Token counts shuffle once on the token; the global top-k is a
    TakeOrderedAndProject (per-partition partial top-k, NO range-
    partitioned sort); the rank assignment then runs on the k-row
    result under an explicit metadata-scale single-partition key.
    A Zipfian corpus fits slope ~ -1; drift toward 0 flags template/
    boilerplate contamination.
    """
    tok = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    top = cnt.orderBy(F.desc("cnt"), F.asc("token")).limit(n_ranks)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(single_partition_key("token")).orderBy(
                F.desc("cnt"), F.asc("token")
            )
        ),
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("cnt"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(
            F.regr_intercept(F.log("cnt"), F.log("rank")), 6
        ).alias("zipf_intercept"),
        F.round(F.regr_r2(F.log("cnt"), F.log("rank")), 6).alias("r2"),
        F.count("*").cast("bigint").alias("n_ranks"),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_fit(load_table(spark, sf_dir, "documents"))


ORACLE_ZIPF = f"""WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
), cnt AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY 1
), ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
  FROM cnt ORDER BY cnt DESC, token LIMIT {ZIPF_RANKS}
)
SELECT round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
       round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
       round(regr_r2(ln(cnt), ln(rank)), 6) AS r2,
       CAST(count(*) AS BIGINT) AS n_ranks
FROM ranked"""


# -------------------------------------------------------- funnel timing

def funnel_timing(ev: DataFrame) -> DataFrame:
    """Time-to-convert between funnel stages for in-order converters.

    Stage timestamps by conditional min per user (one shuffle on
    user_id, same shape as the funnel query); per step-pair, exact
    interpolated p50/p90 of the gap in seconds plus the mean.
    """
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t1"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t2"),
    )
    # conv is converter-scale (three doubles per in-order user) with
    # three consumers (one aggregate per step pair) — unchecked,
    # Catalyst re-executes the per-user stages aggregation over raw
    # events per consumer (3 executed scans, round-12 audit).  Lazy
    # checkpoint: executor-local blocks, recompute impossible on
    # executor loss; prefer reliable checkpointing with preemption.
    conv = stages.filter(
        (F.col("t0") <= F.col("t1")) & (F.col("t1") <= F.col("t2"))
    ).select(
        (ntz_epoch_seconds("t1") - ntz_epoch_seconds("t0")).alias("g01"),
        (ntz_epoch_seconds("t2") - ntz_epoch_seconds("t1")).alias("g12"),
        (ntz_epoch_seconds("t2") - ntz_epoch_seconds("t0")).alias("g02"),
    ).transform(cut_lineage)
    rows = []
    for col, step in (("g01", "signup->click"), ("g12", "click->purchase"), ("g02", "signup->purchase")):
        rows.append(
            conv.agg(
                F.lit(step).alias("step"),
                F.count(col).cast("bigint").alias("n_users"),
                F.round(F.avg(col), 6).alias("avg_s"),
                F.round(F.expr(f"percentile({col}, 0.5)"), 6).alias("p50_s"),
                F.round(F.expr(f"percentile({col}, 0.9)"), 6).alias("p90_s"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return funnel_timing(load_table(spark, sf_dir, "events"))


ORACLE_FUNNEL_TIMING = """WITH stages AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
    min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events GROUP BY user_id
), conv AS (
  SELECT epoch(t1) - epoch(t0) AS g01,
         epoch(t2) - epoch(t1) AS g12,
         epoch(t2) - epoch(t0) AS g02
  FROM stages WHERE t0 <= t1 AND t1 <= t2
)
SELECT 'signup->click' AS step, CAST(count(g01) AS BIGINT) AS n_users,
       round(avg(g01), 6) AS avg_s, round(quantile_cont(g01, 0.5), 6) AS p50_s,
       round(quantile_cont(g01, 0.9), 6) AS p90_s FROM conv
UNION ALL
SELECT 'click->purchase', CAST(count(g12) AS BIGINT), round(avg(g12), 6),
       round(quantile_cont(g12, 0.5), 6), round(quantile_cont(g12, 0.9), 6)
FROM conv
UNION ALL
SELECT 'signup->purchase', CAST(count(g02) AS BIGINT), round(avg(g02), 6),
       round(quantile_cont(g02, 0.5), 6), round(quantile_cont(g02, 0.9), 6)
FROM conv"""


# ------------------------------------------------------- heavy hitters

def _mg_partial(batches: "Iterator", k: int):  # pragma: no cover - shipped
    """Arrow-batched Misra-Gries over a partition: at most ``k``
    counters survive; merging a batch then trimming to the top-k by
    subtracting the (k+1)-th largest residual preserves the MG
    guarantee (mergeable summaries): any item with partition count
    > n_p/(k+1) keeps a positive residual.

    Output is (user_id, pn): candidate rows carry pn NULL, plus exactly
    one row per partition with user_id NULL carrying the partition's
    row count — the total the HAVING clause needs, folded into this
    pass so it costs no second table scan (round-13, was a dedicated
    count(*) scan of the user_id column)."""
    import pandas as pd

    counters: dict = {}
    n = 0
    for pdf in batches:
        if pdf.empty:
            continue
        n += len(pdf)
        for uid, c in pdf["user_id"].value_counts().items():
            counters[uid] = counters.get(uid, 0) + int(c)
        if len(counters) > k:
            cut = sorted(counters.values(), reverse=True)[k]
            counters = {
                u: c - cut for u, c in counters.items() if c - cut > 0
            }
    yield pd.DataFrame(
        {
            "user_id": pd.array(
                list(counters.keys()) + [None], dtype="Int64"
            ),
            "pn": pd.array([None] * len(counters) + [n], dtype="Int64"),
        }
    )


def heavy_hitters(
    ev: DataFrame, phi: float = HH_PHI, k: int = MG_K
) -> DataFrame:
    """EXACT phi-heavy-hitters via Misra-Gries candidates + rescan.

    Pass 1 caps aggregation state at ``k`` counters per partition
    (Arrow mapInPandas) and is guaranteed to surface every item with
    global frequency >= n/(k+1) <= phi*n; pass 2 broadcast-semi-joins
    the candidate list back and counts exactly, so the output equals
    the plain GROUP BY ... HAVING answer without ever materializing a
    full-cardinality aggregation.

    Round-13 fold (was 3 scans): the total the HAVING clause divides
    by rides OUT OF the MG pass as one per-partition count row
    (``_mg_partial``'s user_id-NULL rows, summed), instead of a
    dedicated ``count(*)`` scan of the filtered user_id column.  The
    packed candidates+counts frame is candidate-scale (<= k rows per
    partition + 1), so one lazy checkpoint lets both consumers (the
    candidate list and the total) read it without re-running the MG
    pass.  Executor-loss caveat: see events_association_rules
    (relational.py)."""
    from ..functions.checkpoint import cut_lineage
    from ..shipping import ensure_shipped

    ensure_shipped(ev.sparkSession)
    # NULL actors are meaningless as heavy hitters and pandas
    # value_counts drops NaN anyway — exclude them explicitly on BOTH
    # engines (the oracle filters identically) so the contract doesn't
    # depend on testdata never containing NULL user_ids
    ev = ev.filter(F.col("user_id").isNotNull())
    packed = (
        ev.select("user_id")
        .mapInPandas(
            lambda it: _mg_partial(it, k), schema="user_id bigint, pn bigint"
        )
        .transform(cut_lineage)
    )
    cand = (
        packed.filter(F.col("pn").isNull()).select("user_id").distinct()
    )
    total = packed.agg(
        F.coalesce(F.sum("pn"), F.lit(0)).cast("double").alias("n_total")
    )
    exact = (
        ev.join(F.broadcast(cand), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(phi) * F.col("n_total"))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / F.col("n_total"), 6).alias("frac"),
        )
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heavy_hitters(load_table(spark, sf_dir, "events"))


ORACLE_HEAVY_HITTERS = f"""WITH ev AS (
  SELECT user_id FROM events WHERE user_id IS NOT NULL
), tot AS (
  SELECT count(*) AS n_total FROM ev
)
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
       round(count(*) / (SELECT n_total FROM tot), 6) AS frac
FROM ev GROUP BY user_id
HAVING count(*) >= {HH_PHI} * (SELECT n_total FROM tot)"""


# ------------------------------------------------- source token drift

def source_token_drift(docs: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution vs
    the GLOBAL corpus distribution — the shard-drift health report of a
    training-data pipeline (which ingest source went off-distribution).

    Key identity that keeps this join-light: tokens ABSENT from a
    source contribute 0.5 * p_global each to the JSD (their p_source
    is 0, so both KL terms collapse), and their total mass is
    1 - sum(p_global over the source's PRESENT tokens) — so the whole
    divergence needs only an INNER join on the present tokens plus a
    closed-form correction, never a full outer join against the vocab.
    One hash exchange on token, one on source.
    """
    tok = docs.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token"),
    )
    # per_src is (source x token) VOCABULARY scale with three
    # consumers (src_tot, glob, the probability join) — unchecked,
    # Catalyst re-executed the corpus-wide token explode per consumer
    # (4 executed scans, round-12 audit).  One lazy checkpoint cuts
    # that to one pass; interleaved full-cost A/B at sf0.1:
    # 0.735 -> 0.712 s median-of-7, hash-identical.  Executor-loss
    # caveat: see events_association_rules (relational.py).
    per_src = tok.groupBy("source", "token").agg(
        F.count("*").alias("c")
    ).transform(cut_lineage)
    src_tot = per_src.groupBy("source").agg(F.sum("c").alias("n_src"))
    glob = per_src.groupBy("token").agg(F.sum("c").alias("g"))
    glob_tot = glob.agg(F.sum("g").alias("n_glob"))
    d = (
        per_src.join(src_tot, "source")
        .join(glob, "token")
        .crossJoin(F.broadcast(glob_tot))
        .select(
            "source",
            (F.col("c") / F.col("n_src")).alias("ps"),
            (F.col("g") / F.col("n_glob")).alias("pg"),
        )
    )
    m = (F.col("ps") + F.col("pg")) / 2
    term = F.lit(0.5) * F.col("ps") * F.log2(F.col("ps") / m) + F.lit(
        0.5
    ) * F.col("pg") * F.log2(F.col("pg") / m)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_tokens"),
            F.round(
                F.sum(term) + F.lit(0.5) * (F.lit(1.0) - F.sum("pg")), 6
            ).alias("js_divergence"),
        )
    )


def q_source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_token_drift(load_table(spark, sf_dir, "documents"))


ORACLE_SOURCE_DRIFT = """WITH tok AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
), per_src AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
), src_tot AS (
  SELECT source, sum(c) AS n_src FROM per_src GROUP BY 1
), gl AS (
  SELECT token, sum(c) AS g FROM per_src GROUP BY 1
), gl_tot AS (
  SELECT sum(g) AS n_glob FROM gl
), d AS (
  SELECT p.source, p.c / s.n_src AS ps, g.g / (SELECT n_glob FROM gl_tot) AS pg
  FROM per_src p JOIN src_tot s ON p.source = s.source
  JOIN gl g ON p.token = g.token
)
SELECT source, CAST(count(*) AS BIGINT) AS n_shared_tokens,
       round(sum(0.5 * ps * log2(ps / ((ps + pg) / 2))
               + 0.5 * pg * log2(pg / ((ps + pg) / 2)))
             + 0.5 * (1.0 - sum(pg)), 6) AS js_divergence
FROM d GROUP BY source"""


QUERIES["corpus_source_token_drift"] = (
    q_source_token_drift,
    ORACLE_SOURCE_DRIFT,
)

QUERIES["metric_cusum_anomalies"] = (q_metric_cusum, ORACLE_CUSUM)
QUERIES["metric_theil_sen_trend"] = (q_theil_sen, ORACLE_THEIL_SEN)
QUERIES["text_char_entropy"] = (q_char_entropy, ORACLE_CHAR_ENTROPY)
QUERIES["corpus_zipf_fit"] = (q_zipf_fit, ORACLE_ZIPF)
QUERIES["events_funnel_timing"] = (q_funnel_timing, ORACLE_FUNNEL_TIMING)
QUERIES["events_heavy_hitters"] = (q_heavy_hitters, ORACLE_HEAVY_HITTERS)


# ------------------------------------------- Markov next-event eval

def q_markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event prediction, trained and evaluated
    in one DAG: transition counts from TRAIN bigrams (event_id % 5 != 0
    on the destination event), argmax next-event per from_type, scored
    on the held-out bigrams — per-state accuracy plus the baseline the
    model must beat (global majority class).

    Scale shape: bigrams come from one user_id lag window; the model
    is |event_types|² rows (metadata-scale broadcast); scoring is one
    more keyed agg.  Ties break toward the lexicographically LAST
    to_type via (count, to_type) struct max, identically in SQL.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.select(
        F.col("event_id").alias("to_id"),
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    train = bigrams.filter(F.col("to_id") % 5 != 0)
    model = (
        train.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("c"))
        .groupBy("from_type")
        .agg(
            F.max(F.struct(F.col("c"), F.col("to_type")))["to_type"].alias(
                "pred_type"
            )
        )
    )
    held = bigrams.filter(F.col("to_id") % 5 == 0)
    return (
        held.join(F.broadcast(model), "from_type")
        .groupBy("from_type")
        .agg(
            F.first("pred_type").alias("pred_type"),
            F.count("*").cast("bigint").alias("n_held"),
            F.round(
                F.avg(
                    (F.col("to_type") == F.col("pred_type")).cast("double")
                ),
                6,
            ).alias("accuracy"),
        )
    )


ORACLE_MARKOV_EVAL = """WITH bigrams AS (
  SELECT event_id AS to_id, event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
), b AS (
  SELECT * FROM bigrams WHERE from_type IS NOT NULL
), train AS (
  SELECT * FROM b WHERE to_id % 5 <> 0
), counts AS (
  SELECT from_type, to_type, count(*) AS c FROM train GROUP BY 1, 2
), model AS (
  SELECT from_type, (max({'c': c, 't': to_type})).t AS pred_type
  FROM counts GROUP BY from_type
), held AS (
  SELECT * FROM b WHERE to_id % 5 = 0
)
SELECT h.from_type, any_value(m.pred_type) AS pred_type,
       CAST(count(*) AS BIGINT) AS n_held,
       round(avg(CASE WHEN h.to_type = m.pred_type
                      THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM held h JOIN model m ON h.from_type = m.from_type
GROUP BY h.from_type"""


QUERIES["events_markov_next_eval"] = (
    q_markov_next_event_eval,
    ORACLE_MARKOV_EVAL,
)


# ------------------------------------------------ readability scores

def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch-reading-ease-style readability features per document:
    words/sentence, a vowel-group syllable heuristic, and the Flesch
    score 206.835 - 1.015·(words/sentences) - 84.6·(syllables/words) —
    the standard complexity feature in corpus quality filtering.
    All pure Catalyst regexp counts (codegen, no Python); sentences
    are [.!?] runs (min 1), syllables are [aeiouy]+ groups per word.
    """
    n_words = F.size(
        F.expr("regexp_extract_all(text, '[A-Za-z]+', 0)")
    ).cast("double")
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("double"),
        F.lit(1.0),
    )
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("double")
    wps = n_words / n_sent
    spw = n_syll / F.nullif(n_words, F.lit(0.0))
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_syll.cast("bigint").alias("n_syllables"),
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(flesch, 6).alias("flesch_score"),
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readability_scores(load_table(spark, sf_dir, "documents"))


ORACLE_READABILITY = """WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE) AS nw,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS DOUBLE),
                  1.0) AS ns,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
           AS nsyl
  FROM documents
)
SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
       CAST(ns AS BIGINT) AS n_sentences,
       CAST(nsyl AS BIGINT) AS n_syllables,
       round(nw / ns, 6) AS words_per_sentence,
       round(nsyl / nullif(nw, 0), 6) AS syllables_per_word,
       round(206.835 - 1.015 * (nw / ns)
             - 84.6 * (nsyl / nullif(nw, 0)), 6) AS flesch_score
FROM d"""


QUERIES["text_readability_scores"] = (q_readability, ORACLE_READABILITY)


# --------------------------------------------- return rate, Wilson CI

def q_return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per part brand with a 95% Wilson score interval —
    rate comparisons between brands of very different volumes need the
    interval, not the raw proportion (the classic small-n trap).  One
    lineitem aggregate keyed on partkey joins the brand dimension
    broadcast; the Wilson algebra is pure codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    flagged = li.select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("double").alias("ret"),
    )
    per_brand = (
        flagged.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            flagged.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("ret").alias("r"),
        )
    )
    z = 1.959964  # 95%
    p = F.col("r") / F.col("n")
    n = F.col("n")
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        / denom
    )
    return per_brand.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_lineitems"),
        F.col("r").cast("bigint").alias("n_returned"),
        F.round(p, 6).alias("return_rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


ORACLE_RETURN_RATE = """WITH per AS (
  SELECT p.p_brand, CAST(count(*) AS DOUBLE) AS n,
         sum(CASE WHEN l.l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n_lineitems,
       CAST(r AS BIGINT) AS n_returned,
       round(r / n, 6) AS return_rate,
       round(((r/n + 1.959964*1.959964/(2*n))
              - 1.959964 * sqrt((r/n)*(1 - r/n)/n
                  + 1.959964*1.959964/(4*n*n)))
             / (1 + 1.959964*1.959964/n), 6) AS wilson_lo,
       round(((r/n + 1.959964*1.959964/(2*n))
              + 1.959964 * sqrt((r/n)*(1 - r/n)/n
                  + 1.959964*1.959964/(4*n*n)))
             / (1 + 1.959964*1.959964/n), 6) AS wilson_hi
FROM per"""


QUERIES["return_rate_by_brand"] = (
    q_return_rate_by_brand,
    ORACLE_RETURN_RATE,
)


# ------------------------------------------------- concentration (HHI)

def q_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration Herfindahl-Hirschman index per nation:
    sum of squared supplier revenue shares (10000-scaled) — the
    antitrust-style single-vendor-risk readout of a supply base.  One
    suppkey-keyed revenue aggregate, broadcast supplier->nation
    dimension, one nation rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        )
    )
    dim = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    by_nation = rev.join(F.broadcast(dim), rev.l_suppkey == dim.s_suppkey)
    w = Window.partitionBy("n_name")
    share = F.col("rev") / F.sum("rev").over(w)
    return (
        by_nation.withColumn("share", share)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.round(F.sum(F.col("share") * F.col("share")) * 10000, 6).alias(
                "hhi"
            ),
            F.round(F.max("share"), 6).alias("top_share"),
        )
    )


ORACLE_SUPPLIER_HHI = """WITH rev AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem GROUP BY 1
), d AS (
  SELECT n.n_name, r.rev,
         r.rev / sum(r.rev) OVER (PARTITION BY n.n_name) AS share
  FROM rev r
  JOIN supplier s ON r.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(share * share) * 10000, 6) AS hhi,
       round(max(share), 6) AS top_share
FROM d GROUP BY 1"""


QUERIES["supplier_hhi_by_nation"] = (
    q_supplier_hhi_by_nation,
    ORACLE_SUPPLIER_HHI,
)


# --------------------------------------------- lexical diversity (TTR)

def q_doc_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document type-token ratio + hapax share — the lexical-
    diversity quality features (low TTR flags template/repetition
    spam).  Pure array expressions: tokens and distinct tokens per doc
    in one codegen'd projection, no explode, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    n_tok = F.size(toks).cast("double")
    n_types = F.size(F.array_distinct(toks)).cast("double")
    # hapax count via the aggregate fold: tokens occurring exactly once
    hapax = F.expr(
        "size(filter(array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0)), "
        "t -> size(filter(regexp_extract_all(lower(text), '[a-z]+', 0), "
        "x -> x = t)) = 1))"
    ).cast("double")
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        n_types.cast("bigint").alias("n_types"),
        F.round(n_types / F.nullif(n_tok, F.lit(0.0)), 6).alias("ttr"),
        F.round(hapax / F.nullif(n_types, F.lit(0.0)), 6).alias(
            "hapax_share"
        ),
    )


ORACLE_DOC_TTR = """WITH d AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_types,
         CAST(len(list_filter(list_distinct(toks),
              t -> len(list_filter(toks, x -> x = t)) = 1)) AS DOUBLE)
           AS hapax
  FROM d
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       round(n_types / nullif(n_tok, 0), 6) AS ttr,
       round(hapax / nullif(n_types, 0), 6) AS hapax_share
FROM s"""


QUERIES["doc_type_token_ratio"] = (q_doc_type_token_ratio, ORACLE_DOC_TTR)


# ------------------------------------------- customer inter-order gaps

def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap distribution per order priority of the FIRST
    order in each gap: median/p90 days between a customer's
    consecutive orders — the repeat-purchase cadence readout.  One
    custkey lag window, one bounded rollup."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_orderpriority",
        F.datediff(
            F.to_date("o_orderdate"),
            F.to_date(F.lag("o_orderdate").over(w)),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(F.avg("gap_days"), 6).alias("avg_gap"),
        F.round(F.expr("percentile(gap_days, 0.5D)"), 6).alias("p50_gap"),
        F.round(F.expr("percentile(gap_days, 0.9D)"), 6).alias("p90_gap"),
    )


ORACLE_CUSTOMER_GAPS = """WITH g AS (
  SELECT o_orderpriority,
         date_diff('day',
            CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_gaps,
       round(avg(gap_days), 6) AS avg_gap,
       round(quantile_cont(gap_days, 0.5), 6) AS p50_gap,
       round(quantile_cont(gap_days, 0.9), 6) AS p90_gap
FROM g WHERE gap_days IS NOT NULL
GROUP BY 1"""


QUERIES["customer_order_gaps"] = (q_customer_order_gaps, ORACLE_CUSTOMER_GAPS)
