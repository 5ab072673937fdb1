"""Round-6 analytics wave: sequential A/B testing, basket affinity,
GLR change-point localization, the corpus-pipeline funnel audit, RAKE
keyphrase extraction, generalized-ESD outlier rounds, AR(2) one-step
residual anomalies, and Adtributor-style incident attribution.

Every query keeps the registry's scale discipline: raw data is touched
by exactly one keyed rollup (or map-only projection); everything after
runs at metadata/vocabulary scale.  Single-partition windows appear
ONLY over day-cardinality frames (documented per query).

No reference counterpart for any of these (the reference is a
fetch->scale->LSTM score loop, `realtime_detector.py`); they extend the
experimentation / corpus-audit surface a production lake needs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_tables import load_table
from ..functions.checkpoint import cut_lineage

QUERIES: dict = {}


# ---------------------------------------------- sequential A/B (mSPRT)

#: mixture variance of the mSPRT prior on the effect size (Johari et
#: al., "Peeking at A/B Tests", KDD 2017).  Larger tau2 = optimized for
#: detecting larger effects earlier.
AB_TAU2 = 1.0
#: always-valid significance level.
AB_ALPHA = 0.05


def ab_sequential(ev: DataFrame) -> DataFrame:
    """Always-valid sequential A/B monitoring — the mixture SPRT
    (mSPRT) p-value process per experiment day, so the experimenter can
    peek daily WITHOUT inflating false positives (the fixed-horizon
    t-test in events_ab_test is only valid at its planned end).
    ``ev`` carries (ts, user_id, value) purchase events.

    Per day d, over purchase events cumulative through d (variant =
    user_id % 2): Welch-free pooled-variance delta
    ``D = mean1 - mean0`` with ``V = sp2 (1/n0 + 1/n1)``, mixture
    likelihood ratio

        log LR = 0.5 ln(V / (V + tau2)) + D^2 tau2 / (2 V (V + tau2))

    and always-valid p = running min of min(1, exp(-log LR)).
    ``significant`` latches once p_seq < alpha.

    Plan: ONE conditional rollup of the purchase stream to (day x
    variant) partials (count/sum/sumsq — algebraic, map-side
    combined); cumulative windows and all math run on the
    day-cardinality frame (~30 rows, the one sanctioned
    single-partition window scale)."""
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            *[
                agg
                for v in (0, 1)
                for agg in (
                    F.count(
                        F.when(F.col("user_id") % 2 == v, 1)
                    ).alias(f"dn{v}"),
                    F.coalesce(
                        F.sum(
                            F.when(F.col("user_id") % 2 == v, F.col("value"))
                        ),
                        F.lit(0.0),
                    ).alias(f"ds{v}"),
                    F.coalesce(
                        F.sum(
                            F.when(
                                F.col("user_id") % 2 == v,
                                F.col("value") * F.col("value"),
                            )
                        ),
                        F.lit(0.0),
                    ).alias(f"dss{v}"),
                )
            ]
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        *[
            F.sum(c).over(w).alias(c[1:])
            for c in ("dn0", "ds0", "dss0", "dn1", "ds1", "dss1")
        ],
    ).filter((F.col("n0") >= 2) & (F.col("n1") >= 2))
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    delta = F.col("s1") / n1 - F.col("s0") / n0
    sp2 = (
        (F.col("ss0") - F.col("s0") * F.col("s0") / n0)
        + (F.col("ss1") - F.col("s1") * F.col("s1") / n1)
    ) / (n0 + n1 - 2)
    v = sp2 * (1 / n0 + 1 / n1)
    log_lr = 0.5 * F.log(v / (v + AB_TAU2)) + (
        delta * delta * AB_TAU2
    ) / (2 * v * (v + AB_TAU2))
    scored = cum.select(
        "day",
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(delta, 6).alias("delta"),
        F.round(log_lr, 6).alias("log_lr"),
        F.least(F.lit(1.0), F.exp(-log_lr)).alias("p_day"),
    )
    w2 = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return scored.select(
        "day",
        "n0",
        "n1",
        "delta",
        "log_lr",
        F.round(F.min("p_day").over(w2), 6).alias("p_always_valid"),
        (F.min("p_day").over(w2) < AB_ALPHA).cast("int").alias(
            "significant"
        ),
    )


def q_events_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return ab_sequential(
        load_table(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        )
    )


ORACLE_AB_SEQUENTIAL = f"""WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS dn0,
         coalesce(sum(CASE WHEN user_id % 2 = 0 THEN value END), 0) AS ds0,
         coalesce(sum(CASE WHEN user_id % 2 = 0 THEN value * value END), 0)
           AS dss0,
         count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS dn1,
         coalesce(sum(CASE WHEN user_id % 2 = 1 THEN value END), 0) AS ds1,
         coalesce(sum(CASE WHEN user_id % 2 = 1 THEN value * value END), 0)
           AS dss1
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
), cum AS (
  SELECT day,
         sum(dn0) OVER w AS n0, sum(ds0) OVER w AS s0,
         sum(dss0) OVER w AS ss0,
         sum(dn1) OVER w AS n1, sum(ds1) OVER w AS s1,
         sum(dss1) OVER w AS ss1
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), m AS (
  SELECT day, n0, n1,
         s1 / n1 - s0 / n0 AS delta,
         ((ss0 - s0 * s0 / n0) + (ss1 - s1 * s1 / n1))
           / (n0 + n1 - 2) * (1.0 / n0 + 1.0 / n1) AS v
  FROM cum WHERE n0 >= 2 AND n1 >= 2
), lr AS (
  SELECT day, n0, n1, delta,
         0.5 * ln(v / (v + {AB_TAU2!r})) +
           delta * delta * {AB_TAU2!r} / (2 * v * (v + {AB_TAU2!r}))
           AS log_lr
  FROM m
)
SELECT day, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       round(delta, 6) AS delta,
       round(log_lr, 6) AS log_lr,
       round(min(least(1.0, exp(-log_lr))) OVER w2, 6) AS p_always_valid,
       CAST(min(least(1.0, exp(-log_lr))) OVER w2 < {AB_ALPHA!r} AS INT)
         AS significant
FROM lr
WINDOW w2 AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW)"""

QUERIES["events_ab_sequential"] = (
    q_events_ab_sequential,
    ORACLE_AB_SEQUENTIAL,
)


# ---------------------------------------------- basket affinity (lift)

BASKET_MIN_SUPPORT = 5  # pair must co-occur in >= this many orders
BASKET_TOP_K = 20


def q_orders_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between part BRANDS: support, confidence
    and lift for brand pairs co-purchased in one order — the
    assortment/recommendation readout (classic association-rule
    measures; events_association_rules carries the user-event twin).

    Scale: the per-order brand set is bounded by the brand vocabulary
    (25), so the within-order pair self-join fans out <= C(25,2) rows
    per order — linear in orders.  Brand margins and the order total
    are vocabulary-scale/one-row broadcasts; the only full-data
    exchanges are the part join and the per-(order, brand) distinct."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # lazily checkpointed: FIVE consumers read ob (n_orders, margins
    # via both ma/mb, both self-join sides) and Catalyst otherwise
    # re-executes the lineitem scan+join+DISTINCT per consumer
    # (round-11 audit/A-B, the association-rules precedent: scans
    # 10 -> 2, hash-identical; the frame is (order x brand)-scale,
    # bounded by orders times the 25-brand vocabulary).
    # Executor-loss caveat: see events_association_rules (relational.py)
    # — preemptible deployments should use reliable checkpoint().
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
        .transform(cut_lineage)
    )
    n_orders = ob.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    margins = ob.groupBy("brand").agg(F.count("*").alias("n_brand"))
    pairs = (
        ob.alias("a")
        .join(
            ob.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    ma = margins.select(
        F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    mb = margins.select(
        F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    scored = (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("brand_a").asc(), F.col("brand_b").asc()
    ).limit(BASKET_TOP_K)


ORACLE_BASKET_AFFINITY = f"""WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), t AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM ob
), m AS (
  SELECT brand, count(*) AS n_brand FROM ob GROUP BY 1
), p AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
)
SELECT brand_a, brand_b, n_ab,
       round(n_ab / t.n_orders, 6) AS support,
       round(n_ab / CAST(ma.n_brand AS DOUBLE), 6) AS confidence,
       round(n_ab * t.n_orders / (CAST(ma.n_brand AS DOUBLE) * mb.n_brand),
             6) AS lift
FROM p
JOIN m ma ON p.brand_a = ma.brand
JOIN m mb ON p.brand_b = mb.brand
CROSS JOIN t
ORDER BY lift DESC, brand_a ASC, brand_b ASC
LIMIT {BASKET_TOP_K}"""

QUERIES["orders_basket_affinity"] = (
    q_orders_basket_affinity,
    ORACLE_BASKET_AFFINITY,
)


# ------------------------------------- GLR change-point localization

GLR_HALF = 24  # hours on each side of the candidate boundary


def q_metric_glr_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point LOCALIZATION per series: the generalized likelihood
    ratio (GLR) statistic for a mean shift at every hourly boundary —
    two bounded 24 h frames around each candidate point — reporting
    the single strongest boundary per series.  CUSUM answers "did the
    level shift somewhere recently"; this answers "WHERE exactly", the
    post-incident forensics readout.

    stat(t) = n1 n2 / (n1 + n2) * (mean_post - mean_pre)^2 / var_series

    Plan: hourly rollup (one keyed exchange), two fixed-size window
    frames on the per-series hour order (no whole-series frame), the
    per-series variance joined back from a 5-row broadcast aggregate,
    argmax via one more window on the same partitioning — the second
    window reuses the first's exchange."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("metric"),
        F.date_trunc("hour", "ts").alias("hour"),
    ).agg(F.avg("value").alias("y"))
    sigma = hourly.groupBy("metric").agg(
        F.var_pop("y").alias("var_y")
    )
    w_pre = (
        Window.partitionBy("metric")
        .orderBy("hour")
        .rowsBetween(-GLR_HALF, -1)
    )
    w_post = (
        Window.partitionBy("metric")
        .orderBy("hour")
        .rowsBetween(0, GLR_HALF - 1)
    )
    framed = (
        hourly.withColumn("n_pre", F.count("y").over(w_pre))
        .withColumn("m_pre", F.avg("y").over(w_pre))
        .withColumn("n_post", F.count("y").over(w_post))
        .withColumn("m_post", F.avg("y").over(w_post))
        .filter(
            (F.col("n_pre") == GLR_HALF) & (F.col("n_post") == GLR_HALF)
        )
        .join(F.broadcast(sigma), "metric")
    )
    n1 = F.col("n_pre").cast("double")
    n2 = F.col("n_post").cast("double")
    d = F.col("m_post") - F.col("m_pre")
    stat = (
        n1 * n2 / (n1 + n2) * d * d / F.expr("nullif(var_y, 0D)")
    )
    scored = framed.withColumn("stat", F.round(stat, 6))
    w_top = Window.partitionBy("metric").orderBy(
        F.col("stat").desc(), F.col("hour").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            "metric",
            F.col("hour").alias("change_hour"),
            F.round("m_pre", 6).alias("mean_pre"),
            F.round("m_post", 6).alias("mean_post"),
            F.col("stat").alias("glr_stat"),
        )
    )


ORACLE_GLR_CHANGEPOINT = f"""WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour,
         avg(value) AS y
  FROM events GROUP BY 1, 2
), sg AS (
  SELECT metric, var_pop(y) AS var_y FROM hourly GROUP BY 1
), framed AS (
  SELECT metric, hour,
         count(y) OVER pre AS n_pre, avg(y) OVER pre AS m_pre,
         count(y) OVER post AS n_post, avg(y) OVER post AS m_post
  FROM hourly
  WINDOW pre AS (PARTITION BY metric ORDER BY hour
                 ROWS BETWEEN {GLR_HALF} PRECEDING AND 1 PRECEDING),
         post AS (PARTITION BY metric ORDER BY hour
                  ROWS BETWEEN CURRENT ROW AND {GLR_HALF - 1} FOLLOWING)
), scored AS (
  SELECT f.metric, f.hour, f.m_pre, f.m_post,
         round(CAST(f.n_pre AS DOUBLE) * f.n_post / (f.n_pre + f.n_post)
               * (f.m_post - f.m_pre) * (f.m_post - f.m_pre)
               / nullif(sg.var_y, 0), 6) AS stat
  FROM framed f JOIN sg ON f.metric = sg.metric
  WHERE f.n_pre = {GLR_HALF} AND f.n_post = {GLR_HALF}
), top AS (
  SELECT *, row_number() OVER (PARTITION BY metric
             ORDER BY stat DESC, hour ASC) AS rk
  FROM scored
)
SELECT metric, hour AS change_hour,
       round(m_pre, 6) AS mean_pre, round(m_post, 6) AS mean_post,
       stat AS glr_stat
FROM top WHERE rk = 1"""

QUERIES["metric_glr_changepoint"] = (
    q_metric_glr_changepoint,
    ORACLE_GLR_CHANGEPOINT,
)


# -------------------------------------- corpus pipeline funnel audit

def q_corpus_dedup_e2e_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning FUNNEL audit: docs and chars surviving each
    stage of the composed pipeline (raw -> bench carve-out -> quality
    filter -> exact dedup -> decontamination) as one tiny table — the
    per-run readout every production data pipeline logs, and the
    companion to corpus_clean_pipeline's per-(lang, source) output
    (same stage logic, same constants, so this doubles as a
    conservation check on the flagship DAG).

    Plan: each stage is a one-row aggregate over a shared filter
    lineage; Catalyst folds the stage predicates into the scans.  The
    union of 5 one-row frames is metadata-scale."""
    from ..operators.corpus import DECON_BENCH_MOD, decontaminate
    from ..operators.text import quality_checks

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = load_table(spark, sf_dir, "documents")

    def stage_row(order: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(order).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias(
                "total_chars"
            ),
        )

    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    keep = reduce(lambda a, b: a & b, [ok for _, ok in quality_checks()])
    train = docs.filter(~is_bench)
    # the funnel's tail stages (kept agg, dedup rep-pick, semi-join
    # side, anti-join side) each re-executed the full-text quality
    # evaluation over the corpus (9 executed scans, round-12 audit);
    # the stages only need (doc_id, n_chars, digest), so that NARROW
    # projection is checkpointed once: scans 9 -> ~5 (raw/train prune
    # to n_chars; decontaminate keeps its own n-gram chain).
    # Interleaved full-cost A/B at sf0.1: 1.41 -> 1.28 s median-of-5,
    # hash-identical.  Executor-loss caveat: see
    # events_association_rules (relational.py).
    kept = (
        train.filter(keep)
        .select(
            "doc_id",
            "n_chars",
            F.md5(F.col("text").cast("binary")).alias("digest"),
        )
        .transform(cut_lineage)
    )
    reps = (
        kept.groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = kept.join(reps, "doc_id", "left_semi")
    contaminated = decontaminate(docs).select("doc_id")
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    return (
        stage_row(0, "raw", docs)
        .unionByName(stage_row(1, "bench_excluded", train))
        .unionByName(stage_row(2, "quality_kept", kept))
        .unionByName(stage_row(3, "exact_deduped", deduped))
        .unionByName(stage_row(4, "decontaminated", clean))
    )


def _oracle_e2e_stats() -> str:
    from ..operators.corpus import DECON_BENCH_MOD, DECON_NGRAM

    return f"""WITH q AS (
  SELECT *,
         len(string_split(text, ' ')) >= 10 AS ok_min_words,
         list_max(list_transform(string_split(text, ' '), w -> length(w)))
           <= 20 AS ok_word_len,
         NOT contains(lower(text), 'lorem ipsum') AS ok_lorem,
         NOT contains(text, '{{') AS ok_braces
  FROM documents
  WHERE doc_id % {DECON_BENCH_MOD} != 0
), kept AS (
  SELECT * FROM q
  WHERE ok_min_words AND ok_word_len AND ok_lorem AND ok_braces
), reps AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
), deduped AS (
  SELECT k.* FROM kept k JOIN reps r ON k.doc_id = r.doc_id
), w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= {DECON_NGRAM}
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(ws, i, i + {DECON_NGRAM - 1}), ' ')
           AS gram
  FROM w, unnest(generate_series(1, len(ws) - {DECON_NGRAM - 1})) AS t(i)
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0
), contaminated AS (
  SELECT DISTINCT g.doc_id
  FROM grams g JOIN bench b ON g.gram = b.gram
  WHERE g.doc_id % {DECON_BENCH_MOD} != 0
), clean AS (
  SELECT d.* FROM deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT 0 AS stage_ord, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars
FROM documents
UNION ALL
SELECT 1, 'bench_excluded', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT)
FROM documents WHERE doc_id % {DECON_BENCH_MOD} != 0
UNION ALL
SELECT 2, 'quality_kept', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT)
FROM kept
UNION ALL
SELECT 3, 'exact_deduped', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT)
FROM deduped
UNION ALL
SELECT 4, 'decontaminated', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_chars), 0) AS BIGINT)
FROM clean"""


QUERIES["corpus_dedup_e2e_stats"] = (
    q_corpus_dedup_e2e_stats,
    _oracle_e2e_stats(),
)


# ---------------------------------------------- RAKE keyphrase extract

#: boundary stopwords for phrase segmentation (RAKE: Rose et al. 2010).
#: Deliberately small and FIXED — it is part of the operator contract
#: and interpolated into both engines' regexes identically.
RAKE_STOPWORDS = (
    "the|a|an|and|or|of|in|on|to|is|are|was|were|with|for|at|by|from|"
    "as|that|this|it|be|not|has|have|had|but|they|you|we|his|her|its"
)
RAKE_MAX_PHRASE_WORDS = 4
RAKE_MIN_PHRASE_FREQ = 3
RAKE_TOP_K = 25


def q_text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus: split every document
    into candidate phrases at stopword/punctuation boundaries, score
    each word by degree/frequency over all phrases (degree = summed
    length of the phrases it appears in), score a phrase as the sum of
    its word scores, and report the corpus top-K phrases.

    Unlike TF-IDF terms (text_tfidf_top_terms) or PMI bigrams
    (text_pmi_collocations), RAKE surfaces VARIABLE-LENGTH multi-word
    phrases without a parser — the standard cheap keyphrase baseline.

    Plan: phrase segmentation is ONE map-only regex projection (
    lowercase -> strip non-alpha -> stopwords become '|' boundaries ->
    split); word stats aggregate at vocabulary scale and broadcast
    back onto the phrase-word stream; the final rollup is
    phrase-vocabulary scale with a TakeOrdered top-K."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " "),
        f"\\b({RAKE_STOPWORDS})\\b",
        "|",
    )
    phrases = (
        docs.select(
            "doc_id", F.explode(F.split(normalized, "\\|")).alias("p")
        )
        .select("doc_id", F.trim(F.regexp_replace("p", " +", " ")).alias("p"))
        .filter(F.col("p") != "")
        .select(
            "doc_id", "p", F.split("p", " ").alias("ws")
        )
        .filter(F.size("ws") <= RAKE_MAX_PHRASE_WORDS)
    )
    pw = phrases.select(
        "p",
        F.size("ws").alias("plen"),
        F.explode("ws").alias("word"),
    )
    word_stats = pw.groupBy("word").agg(
        F.count("*").cast("double").alias("freq"),
        F.sum("plen").cast("double").alias("degree"),
    )
    scored = (
        pw.join(F.broadcast(word_stats), "word")
        .groupBy("p")
        .agg(
            (F.count("*") / F.first("plen")).cast("bigint").alias(
                "phrase_freq"
            ),
            # group rows = instances x plen, so the per-PHRASE word-
            # score sum is groupsum x plen / count(*)
            F.round(
                F.sum(F.col("degree") / F.col("freq"))
                * F.first("plen") / F.count("*"),
                6,
            ).alias("rake_score"),
        )
        .filter(F.col("phrase_freq") >= RAKE_MIN_PHRASE_FREQ)
    )
    return (
        scored.select(
            F.col("p").alias("phrase"), "phrase_freq", "rake_score"
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(RAKE_TOP_K)
    )


ORACLE_KEYWORD_EXTRACT = f"""WITH norm AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
           '\\b({RAKE_STOPWORDS})\\b', '|', 'g') AS t
  FROM documents
), ph AS (
  SELECT doc_id,
         trim(regexp_replace(p, ' +', ' ', 'g')) AS p
  FROM norm, unnest(string_split(t, '|')) AS u(p)
), phrases AS (
  SELECT doc_id, p, string_split(p, ' ') AS ws FROM ph
  WHERE p != '' AND len(string_split(p, ' ')) <= {RAKE_MAX_PHRASE_WORDS}
), pw AS (
  SELECT p, len(ws) AS plen, w.word
  FROM phrases, unnest(ws) AS w(word)
), ws AS (
  SELECT word, CAST(count(*) AS DOUBLE) AS freq,
         CAST(sum(plen) AS DOUBLE) AS degree
  FROM pw GROUP BY 1
), scored AS (
  SELECT pw.p,
         CAST(count(*) / any_value(pw.plen) AS BIGINT) AS phrase_freq,
         round(sum(ws.degree / ws.freq) * any_value(pw.plen) / count(*), 6)
           AS rake_score
  FROM pw JOIN ws ON pw.word = ws.word
  GROUP BY pw.p
  HAVING CAST(count(*) / any_value(pw.plen) AS BIGINT)
         >= {RAKE_MIN_PHRASE_FREQ}
)
SELECT p AS phrase, phrase_freq, rake_score
FROM scored
ORDER BY rake_score DESC, phrase ASC
LIMIT {RAKE_TOP_K}"""

QUERIES["text_keyword_extract"] = (
    q_text_keyword_extract,
    ORACLE_KEYWORD_EXTRACT,
)


# --------------------------------------- generalized ESD (Rosner) lite

ESD_ROUNDS = 5       # outlier candidates tested per series
ESD_LAMBDA = 3.0     # per-round critical value (t-quantile ~ 3.0 for
                     # n >> k — the constant S-H-ESD-style deployments
                     # use; exact Rosner tables need t quantiles)


def q_metric_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD-style iterative outlier test per series (Rosner
    1983, the engine inside Twitter's S-H-ESD): K rounds of "compute
    mean/sd over the SURVIVING points, test the extremest residual,
    remove it" — robust against masking, where a single-pass z-score
    lets one huge outlier inflate sd and hide its neighbors.

    Each round's mean/sd come from the points still standing, so the
    K rounds are K chained (aggregate -> broadcast -> argmax-window)
    stages over the per-series HOURLY frame — bounded depth, every
    stage keyed on metric, raw samples shuffle once for the rollup.
    The residual is rounded to 9dp before the argmax (the cross-engine
    tie discipline), ties break on earliest hour.

    Output: one row per tested candidate (metric, round, hour, value,
    r_stat, is_outlier) — is_outlier = r_stat > ESD_LAMBDA.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    # Each round's `surviving` feeds THREE consumers (the stats agg,
    # the scored join, and the next round's chain) and Catalyst
    # re-executes the whole upstream chain per consumer — compounding
    # round over round to 62 executed scans of events (round-12 scan
    # audit, the registry's worst offender).  The frame is per-metric
    # HOURLY means — metadata-scale, the kmeans/perplexity checkpoint
    # precedent — so lineage is truncated once at the rollup and once
    # per round: scans 62 -> 1.  Executor-loss caveat: see
    # events_association_rules (relational.py).
    surviving = (
        ev.groupBy(
            F.col("event_type").alias("metric"),
            F.date_trunc("hour", "ts").alias("hour"),
        )
        .agg(F.avg("value").alias("y"))
        .transform(cut_lineage)
    )
    rounds = []
    for i in range(1, ESD_ROUNDS + 1):
        stats = surviving.groupBy("metric").agg(
            F.avg("y").alias("mu"),
            F.stddev_samp("y").alias("sd"),
            F.count("*").alias("n"),
        )
        scored = (
            surviving.join(F.broadcast(stats), "metric")
            .filter((F.col("n") >= 3) & (F.col("sd") > 0))
            .withColumn(
                "r",
                F.round(F.abs(F.col("y") - F.col("mu")) / F.col("sd"), 9),
            )
        )
        w = Window.partitionBy("metric").orderBy(
            F.col("r").desc(), F.col("hour").asc()
        )
        top = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "metric",
                F.lit(i).cast("int").alias("round"),
                "hour",
                F.round("y", 6).alias("value"),
                F.round("r", 6).alias("r_stat"),
                (F.col("r") > ESD_LAMBDA).cast("int").alias("is_outlier"),
            )
        )
        rounds.append(top)
        surviving = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") > 1)
            .select("metric", "hour", "y")
            .transform(cut_lineage)
        )
    return reduce(lambda a, b: a.unionByName(b), rounds)


def _oracle_esd() -> str:
    ctes = [
        """s0 AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour,
         avg(value) AS y
  FROM events GROUP BY 1, 2
)"""
    ]
    selects = []
    for i in range(1, ESD_ROUNDS + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""r{i} AS (
  SELECT s.metric, s.hour, s.y,
         round(abs(s.y - st.mu) / st.sd, 9) AS r,
         row_number() OVER (PARTITION BY s.metric
            ORDER BY round(abs(s.y - st.mu) / st.sd, 9) DESC,
                     s.hour ASC) AS rk
  FROM {prev} s
  JOIN (SELECT metric, avg(y) AS mu, stddev_samp(y) AS sd,
               count(*) AS n
        FROM {prev} GROUP BY 1) st
    ON s.metric = st.metric
  WHERE st.n >= 3 AND st.sd > 0
)""")
        ctes.append(f"""s{i} AS (
  SELECT metric, hour, y FROM r{i} WHERE rk > 1
)""")
        selects.append(
            f"""SELECT metric, CAST({i} AS INT) AS round, hour,
       round(y, 6) AS value, round(r, 6) AS r_stat,
       CAST(r > {ESD_LAMBDA!r} AS INT) AS is_outlier
FROM r{i} WHERE rk = 1"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
    )


QUERIES["metric_esd_outliers"] = (q_metric_esd_outliers, _oracle_esd())


# --------------------------------------- AR(2) one-step residual model

AR2_Z = 3.0  # residual z threshold


def q_metric_ar2_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based anomaly detection via a per-series AR(2) one-step
    predictor: y_t ~ a1 y_{t-1} + a2 y_{t-2} + c fitted CLOSED-FORM
    from five population moments (the 2x2 normal equations solved
    symbolically — no iteration, no Python), residual variance from
    the OLS identity var(r) = var(y) - a1 cov(y1,y) - a2 cov(y2,y),
    and |z| > 3 flags.  Complements the zoo: seasonal profiles learn
    "normal for this slot"; the AR model learns "normal given the
    last two observations" and catches level breaks inside an
    otherwise-normal slot.

    Plan: hourly rollup (the one full-data exchange), a two-lag window
    on the same per-series partitioning, a 5-row per-series moment
    aggregate broadcast back, map-only scoring."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("metric"),
        F.date_trunc("hour", "ts").alias("hour"),
    ).agg(F.avg("value").alias("y"))
    w = Window.partitionBy("metric").orderBy("hour")
    lagged = (
        hourly.withColumn("y1", F.lag("y", 1).over(w))
        .withColumn("y2", F.lag("y", 2).over(w))
        .filter(F.col("y2").isNotNull())
    )
    m = lagged.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.avg("y").alias("my"),
        F.avg("y1").alias("m1"),
        F.avg("y2").alias("m2"),
        F.var_pop("y").alias("syy"),
        F.var_pop("y1").alias("s11"),
        F.var_pop("y2").alias("s22"),
        F.covar_pop("y1", "y2").alias("s12"),
        F.covar_pop("y1", "y").alias("s1y"),
        F.covar_pop("y2", "y").alias("s2y"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    a1 = (
        F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")
    ) / F.expr("nullif(s11 * s22 - s12 * s12, 0D)")
    a2 = (
        F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")
    ) / F.expr("nullif(s11 * s22 - s12 * s12, 0D)")
    coef = m.filter((F.col("n") >= 10) & (det > 0)).select(
        "metric",
        a1.alias("a1"),
        a2.alias("a2"),
        (F.col("my") - a1 * F.col("m1") - a2 * F.col("m2")).alias("c"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.col("syy") - a1 * F.col("s1y") - a2 * F.col("s2y"),
            )
        ).alias("sigma_r"),
    )
    scored = lagged.join(F.broadcast(coef), "metric").withColumn(
        "resid",
        F.col("y")
        - (
            F.col("a1") * F.col("y1")
            + F.col("a2") * F.col("y2")
            + F.col("c")
        ),
    )
    return (
        scored.filter(
            F.abs(F.col("resid"))
            > AR2_Z * F.expr("nullif(sigma_r, 0D)")
        )
        .select(
            "metric",
            "hour",
            F.round("y", 6).alias("value"),
            F.round("resid", 6).alias("resid"),
            F.round(
                F.col("resid") / F.expr("nullif(sigma_r, 0D)"), 6
            ).alias("z"),
        )
    )


ORACLE_AR2_RESIDUALS = f"""WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour,
         avg(value) AS y
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT metric, hour, y,
         lag(y, 1) OVER (PARTITION BY metric ORDER BY hour) AS y1,
         lag(y, 2) OVER (PARTITION BY metric ORDER BY hour) AS y2
  FROM hourly
), l AS (SELECT * FROM lagged WHERE y2 IS NOT NULL),
m AS (
  SELECT metric, count(*) AS n, avg(y) AS my, avg(y1) AS m1,
         avg(y2) AS m2, var_pop(y) AS syy, var_pop(y1) AS s11,
         var_pop(y2) AS s22, covar_pop(y1, y2) AS s12,
         covar_pop(y1, y) AS s1y, covar_pop(y2, y) AS s2y
  FROM l GROUP BY 1
), coef AS (
  SELECT metric,
         (s1y * s22 - s2y * s12) / nullif(s11 * s22 - s12 * s12, 0)
           AS a1,
         (s2y * s11 - s1y * s12) / nullif(s11 * s22 - s12 * s12, 0)
           AS a2,
         my, m1, m2, syy, s1y, s2y
  FROM m
  WHERE n >= 10 AND s11 * s22 - s12 * s12 > 0
), cf AS (
  SELECT metric, a1, a2, my - a1 * m1 - a2 * m2 AS c,
         sqrt(greatest(0, syy - a1 * s1y - a2 * s2y)) AS sigma_r
  FROM coef
)
SELECT l.metric, l.hour, round(l.y, 6) AS value,
       round(l.y - (cf.a1 * l.y1 + cf.a2 * l.y2 + cf.c), 6) AS resid,
       round((l.y - (cf.a1 * l.y1 + cf.a2 * l.y2 + cf.c))
             / nullif(cf.sigma_r, 0), 6) AS z
FROM l JOIN cf ON l.metric = cf.metric
WHERE abs(l.y - (cf.a1 * l.y1 + cf.a2 * l.y2 + cf.c))
      > {AR2_Z!r} * nullif(cf.sigma_r, 0)"""

QUERIES["metric_ar2_residuals"] = (
    q_metric_ar2_residuals,
    ORACLE_AR2_RESIDUALS,
)


# ---------------------------------- incident dimension attribution

def q_events_anomaly_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Root-cause attribution for the worst traffic hour — the
    Adtributor shape (Bhagwan et al., NSDI 2014): pick the hour with
    the largest total value (the incident), compare each dimension
    value's SHARE of the incident hour (q) against its share of all
    other hours (p), and rank dimension values by surprise (the
    Jensen-Shannon divergence term) with their explanatory power
    (share of the total composition change).

    Plan: one (hour) rollup finds the incident as a one-row broadcast;
    one conditional (event_type) rollup computes incident/baseline
    sums; everything after runs on the dimension-cardinality frame.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    by_hour = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum("value").alias("total")
    )
    # deterministic argmax: max total, earliest hour on ties
    incident = by_hour.agg(
        F.max_by(
            "hour", F.struct(F.col("total"), F.col("hour").cast("long") * -1)
        ).alias("inc_hour")
    )
    tagged = ev.crossJoin(F.broadcast(incident)).withColumn(
        "is_inc", (F.date_trunc("hour", "ts") == F.col("inc_hour"))
    )
    # dims is DIMENSION-cardinality (one row per event_type) but its
    # total agg and the scored projection both consumed it — Catalyst
    # re-executed the corpus rollup chain per consumer (8 executed
    # scans, round-12 audit).  One lazy checkpoint of the tiny frame:
    # scans 8 -> ~4; interleaved full-cost A/B at sf0.1: 1.09 ->
    # 0.86 s median-of-5, output-identical.  Executor-loss caveat: see
    # events_association_rules (relational.py).
    dims = tagged.groupBy(F.col("event_type").alias("dim_value")).agg(
        F.coalesce(
            F.sum(F.when(F.col("is_inc"), F.col("value"))), F.lit(0.0)
        ).alias("inc_sum"),
        F.coalesce(
            F.sum(F.when(~F.col("is_inc"), F.col("value"))), F.lit(0.0)
        ).alias("base_sum"),
        F.max("inc_hour").alias("inc_hour"),
    ).transform(cut_lineage)
    # shares + JS surprise + explanatory power on the
    # dimension-cardinality frame
    t = dims.agg(
        F.sum("inc_sum").alias("inc_tot"),
        F.sum("base_sum").alias("base_tot"),
    )
    scored = dims.crossJoin(F.broadcast(t)).select(
        "dim_value",
        "inc_hour",
        (F.col("inc_sum") / F.expr("nullif(inc_tot, 0D)")).alias("q"),
        (F.col("base_sum") / F.expr("nullif(base_tot, 0D)")).alias("p"),
    )
    js = 0.5 * (
        F.when(
            F.col("p") > 0,
            F.col("p")
            * F.log(2 * F.col("p") / (F.col("p") + F.col("q"))),
        ).otherwise(0.0)
        + F.when(
            F.col("q") > 0,
            F.col("q")
            * F.log(2 * F.col("q") / (F.col("p") + F.col("q"))),
        ).otherwise(0.0)
    )
    with_js = scored.withColumn("surprise", js).withColumn(
        "shift", F.col("q") - F.col("p")
    )
    denom = with_js.agg(
        F.sum(F.abs(F.col("shift"))).alias("total_shift")
    )
    return (
        with_js.crossJoin(F.broadcast(denom))
        .select(
            "dim_value",
            "inc_hour",
            F.round("p", 6).alias("baseline_share"),
            F.round("q", 6).alias("incident_share"),
            F.round("surprise", 6).alias("surprise"),
            F.round(
                F.col("shift") / F.expr("nullif(total_shift, 0D)"), 6
            ).alias("explanatory_power"),
        )
        .orderBy(F.col("surprise").desc(), F.col("dim_value").asc())
        .limit(10)
    )


ORACLE_ANOMALY_ATTRIBUTION = """WITH by_hour AS (
  SELECT date_trunc('hour', ts) AS hour, sum(value) AS total
  FROM events GROUP BY 1
), inc AS (
  SELECT hour AS inc_hour FROM by_hour
  ORDER BY total DESC, hour ASC LIMIT 1
), dims AS (
  SELECT event_type AS dim_value,
         coalesce(sum(CASE WHEN date_trunc('hour', ts) = inc.inc_hour
                           THEN value END), 0) AS inc_sum,
         coalesce(sum(CASE WHEN date_trunc('hour', ts) != inc.inc_hour
                           THEN value END), 0) AS base_sum,
         max(inc.inc_hour) AS inc_hour
  FROM events CROSS JOIN inc
  GROUP BY 1
), t AS (
  SELECT sum(inc_sum) AS inc_tot, sum(base_sum) AS base_tot FROM dims
), s AS (
  SELECT dim_value, inc_hour,
         inc_sum / nullif(t.inc_tot, 0) AS q,
         base_sum / nullif(t.base_tot, 0) AS p
  FROM dims CROSS JOIN t
), j AS (
  SELECT dim_value, inc_hour, p, q,
         0.5 * (CASE WHEN p > 0
                     THEN p * ln(2 * p / (p + q)) ELSE 0 END
              + CASE WHEN q > 0
                     THEN q * ln(2 * q / (p + q)) ELSE 0 END)
           AS surprise,
         q - p AS shift
  FROM s
), d AS (SELECT sum(abs(shift)) AS total_shift FROM j)
SELECT dim_value, inc_hour,
       round(p, 6) AS baseline_share,
       round(q, 6) AS incident_share,
       round(surprise, 6) AS surprise,
       round(shift / nullif(d.total_shift, 0), 6) AS explanatory_power
FROM j CROSS JOIN d
ORDER BY surprise DESC, dim_value ASC
LIMIT 10"""

QUERIES["events_anomaly_attribution"] = (
    q_events_anomaly_attribution,
    ORACLE_ANOMALY_ATTRIBUTION,
)
