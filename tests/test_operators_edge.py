"""Edge-case suite drawn from the reference's own guards (SURVEY §5.3)
plus scalable-vs-simple implementation equivalence."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.operators import (
    align,
    fill,
    scale,
    windows,
)

from .conftest import SF_ORACLE, SF_SMALL
from prometheus_anomaly_detection_lstm_spark.config import (
    load_config,
    parse_duration_seconds,
    validate_periods,
)


def _ts(i):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=137 * i)


@pytest.fixture()
def metric_df(spark):
    # spans several days; m2 has leading nulls, m3 trailing, m4 all-null
    rows = []
    for i in range(60):
        rows.append(
            (
                _ts(i),
                float(i),
                None if i < 5 else float(i * 2),
                None if i > 54 else float(i * 3),
                None,
            )
        )
    return spark.createDataFrame(
        rows, "ts timestamp, m1 double, m2 double, m3 double, m4 double"
    )


COLS = ["m1", "m2", "m3", "m4"]


def test_ffill_bfill_scalable_equals_global(spark, metric_df):
    a = fill.ffill_bfill(metric_df, COLS).orderBy("ts").collect()
    b = fill.ffill_bfill_scalable(metric_df, COLS).orderBy("ts").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_ffill_bfill_leading_trailing(spark, metric_df):
    out = {r.ts: r for r in fill.ffill_bfill_scalable(metric_df, COLS).collect()}
    # leading nulls in m2 take the first following value (bfill)
    assert out[_ts(0)].m2 == 10.0
    # trailing nulls in m3 take the last prior value (ffill)
    assert out[_ts(59)].m3 == 54.0 * 3
    # all-null column survives every strategy (preprocess_data.py:72-74)
    assert all(r.m4 is None for r in out.values())


def test_unknown_strategy_is_noop(spark, metric_df):
    out = fill.handle_missing_values(metric_df, COLS, "bogus")
    assert out is metric_df


def test_drop_rows_strategy(spark, metric_df):
    out = fill.handle_missing_values(metric_df, ["m2", "m3"], "drop_rows")
    assert out.count() == 60 - 5 - 5


def test_minmax_degenerate_and_unknown_scaler(spark):
    df = spark.createDataFrame(
        [(1.0, 7.0), (2.0, 7.0), (3.0, 7.0)], ["a", "const"]
    )
    rows = scale.fit_params(df, ["a", "const"]).collect()
    out = scale.scale_data(df, ["a", "const"], "NoSuchScaler", rows).collect()
    # unknown scaler falls back to MinMax (preprocess_data.py:89-91)
    assert sorted(r.a for r in out) == [0.0, 0.5, 1.0]
    # degenerate range -> 0 (sklearn scale_=1 handling, SURVEY H2)
    assert {r.const for r in out} == {0.0}


def test_standard_scaler_population_std(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], ["a"])
    rows = scale.fit_params(df, ["a"]).collect()
    out = sorted(
        r.a for r in scale.scale_data(df, ["a"], "StandardScaler", rows).collect()
    )
    # ddof=0: std = sqrt(2/3), NOT sample std 1.0 (SURVEY H2/A5)
    import math

    sd = math.sqrt(2.0 / 3.0)
    assert out == pytest.approx([-1.0 / sd, 0.0, 1.0 / sd])


def test_sequence_windows_short_input_empty(spark):
    df = spark.createDataFrame(
        [(_ts(i), float(i)) for i in range(5)], ["ts", "m1"]
    )
    # n < L -> empty (train_autoencoder.py:67-69)
    assert windows.sequence_windows(df, ["m1"], 20).count() == 0
    assert windows.sequence_windows_scalable(df, ["m1"], 20).count() == 0


def test_sequence_windows_scalable_equals_simple(spark, metric_df):
    filled = fill.ffill_bfill_scalable(metric_df, COLS)
    L = 7
    a = (
        windows.sequence_windows(filled, ["m1", "m2"], L)
        .orderBy("window_id")
        .collect()
    )
    b = (
        windows.sequence_windows_scalable(filled, ["m1", "m2"], L)
        .orderBy("window_id")
        .collect()
    )
    assert len(a) == 60 - L + 1
    assert [r.window_id for r in a] == [r.window_id for r in b]
    assert [r.start_ts for r in a] == [r.start_ts for r in b]
    assert [r.features for r in a] == [r.features for r in b]


def test_window_count_property(spark, metric_df):
    # count = max(0, n - L + 1) for several L (SURVEY §5.5)
    filled = fill.ffill_bfill_scalable(metric_df, COLS)
    for L in (1, 13, 59, 60, 61):
        got = windows.sequence_windows_scalable(filled, ["m1"], L).count()
        assert got == max(0, 60 - L + 1), L


def test_dedup_keep_first_provenance(spark):
    df = spark.createDataFrame(
        [
            (_ts(0), "m", 1.0, 1, 5),
            (_ts(0), "m", 2.0, 0, 9),  # earlier period wins despite later seq
            (_ts(1), "m", 3.0, 0, 1),
        ],
        ["ts", "metric", "value", "period_idx", "seq"],
    )
    out = align.dedup_keep_first(df, ["ts", "metric"], ["period_idx", "seq"])
    vals = {r.ts: r.value for r in out.collect()}
    assert vals[_ts(0)] == 2.0


def test_tail_n_ascending(spark, metric_df):
    out = align.tail_n(metric_df, 5).collect()
    assert [r.ts for r in out] == [_ts(i) for i in range(55, 60)]


def test_backfill_missing_noop_when_present(spark, metric_df):
    out = align.backfill_missing_columns(metric_df, ["m1", "m9"])
    assert out.columns == metric_df.columns + ["m9"]
    assert out.select("m9").distinct().collect()[0].m9 is None


def test_duration_parse():
    # realtime_detector.py:128-140
    assert parse_duration_seconds("30s") == 30
    assert parse_duration_seconds("2m") == 120
    assert parse_duration_seconds("1h") == 3600
    assert parse_duration_seconds(45) == 45
    assert parse_duration_seconds("junk") == 30


def test_period_validation():
    # data_collector.py:176-189
    periods = [
        {"start": "2024-01-01T00:00:00", "end": "2024-01-02T00:00:00"},
        {"start": "2024-01-03T00:00:00", "end": "2024-01-02T00:00:00"},
        {"start": "not-a-date", "end": "2024-01-02T00:00:00"},
        {"start": "2024-01-05T00:00:00"},
    ]
    assert validate_periods(periods) == periods[:1]


def test_config_defaults_and_feature_order():
    cfg = load_config(data={"queries": {"q1": "up", "q2": "rate(x[1m])"}})
    assert cfg.sequence_length == 20
    assert cfg.step_seconds == 120
    assert cfg.feature_columns == ["q1", "q2", "day_of_week", "hour_of_day"]


def test_sliding_mean_scalable_equals_simple(spark, metric_df):
    filled = fill.ffill_bfill_scalable(metric_df, COLS)
    for L in (3, 14):
        a = (
            windows.sliding_mean(filled.select("ts", "m1"), "m1", L)
            .orderBy("window_id")
            .collect()
        )
        b = (
            windows.sliding_mean_scalable(filled.select("ts", "m1"), "m1", L)
            .orderBy("window_id")
            .collect()
        )
        assert [(r.window_id, r.start_ts) for r in a] == [
            (r.window_id, r.start_ts) for r in b
        ]
        import pytest as _pt

        assert [r.m1 for r in a] == _pt.approx([r.m1 for r in b])


def test_winnowing_skips_docs_shorter_than_k(spark):
    """Docs with normalized length < k have no k-grams and must emit
    NOTHING (sequence(1, L-k+1) would otherwise run descending and
    fabricate hashes — ADVICE r2)."""
    from prometheus_anomaly_detection_lstm_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    long_doc = "x" * (WINNOW_K + WINNOW_W - 1)  # exactly w k-grams
    docs = spark.createDataFrame(
        [(1, "ab"), (2, "a"), (3, ""), (4, "   "), (5, long_doc)],
        ["doc_id", "text"],
    )
    rows = winnowing_fingerprints(docs).collect()
    assert [r.doc_id for r in rows] == [5]
    assert rows[0].n_fingerprints == 1


def test_quality_filter_rules_fire_individually(spark):
    from prometheus_anomaly_detection_lstm_spark.operators.text import (
        quality_filter,
    )

    rows = [
        (0, "the quick brown fox jumps over a lazy dog today fine"),  # clean, 11 words
        (1, "too short"),                                             # min_words
        (2, " ".join(["w"] * 12) + " " + "x" * 30),                   # long token
        (3, "Lorem Ipsum dolor sit amet " + " ".join(["w"] * 10)),    # lorem
        (4, "code sample { return 0; } " + " ".join(["w"] * 10)),     # braces
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.keep, r.fail_reasons) for r in quality_filter(docs).collect()}
    assert out[0] == (1, "")
    assert out[1][0] == 0 and "min_words" in out[1][1]
    assert out[2][0] == 0 and "max_word_len" in out[2][1]
    assert out[3][0] == 0 and "no_lorem" in out[3][1]
    assert out[4][0] == 0 and "no_braces" in out[4][1]


def test_repetition_scores_detect_repeats(spark):
    from prometheus_anomaly_detection_lstm_spark.operators.text import (
        repetition_scores,
    )

    rows = [
        (0, "spam spam spam spam spam spam"),       # one word repeated
        (1, "a b a b a b a b"),                     # repeated 2-grams
        (2, "all words here are fully distinct"),   # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert out[0].top_word_frac == 1.0
    assert out[0].dup_2gram_frac > 0.7
    assert out[1].dup_2gram_frac > 0.6
    assert out[2].top_word_frac < 0.2 and out[2].dup_2gram_frac == 0.0


def test_quantize_int8_roundtrip_bound(spark):
    """Dequantized vectors stay within scale/254 of the original per
    component (the int8 quantization error bound)."""
    from prometheus_anomaly_detection_lstm_spark.operators.similarity import (
        quantize_int8,
    )

    rows = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # all-zero vector -> q=0, scale=0
        (2, [3.25, -0.125, 2.0, -4.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = quantize_int8(emb).collect()
    orig = {r[0]: r[1] for r in rows}
    for r in out:
        assert -127 <= r.q <= 127
        v = orig[r.vec_id][r.i - 1]
        if r.scale == 0.0:
            assert r.q == 0
        else:
            assert abs(r.q * r.scale / 127.0 - v) <= r.scale / 127.0 + 1e-9


def test_containment_asymmetric_subset_doc(spark):
    """A short doc fully embedded in a long one: containment(short ->
    long) ~ 1.0 while Jaccard stays below its threshold — the relation
    the symmetric measure misses by construction."""
    from prometheus_anomaly_detection_lstm_spark.operators import dedup

    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # short's shingles all inside long
    assert (2, 1) not in pairs  # long is NOT contained in short
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the subset-dup


def test_containment_prefix_filter_is_exact(spark):
    """Candidate generation (prefix x full index) must lose nothing:
    results equal the brute-force all-pairs computation."""
    from prometheus_anomaly_detection_lstm_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = dedup._docs(spark, SF_SMALL).limit(60)
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.3).collect()
    }
    sh = dedup.shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    brute = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), "n"), "doc_a"
        )
        .withColumn("c", F.round(F.col("i") / F.col("n"), 6))
        .filter(F.col("c") >= 0.3)
    )
    want = {(r.doc_a, r.doc_b): r.c for r in brute.collect()}
    assert got == want


def test_mixture_sample_rates_and_determinism(spark):
    """Per-lang acceptance tracks the target rate, and the survivor set
    is identical across partitionings (pure function of doc_id)."""
    from prometheus_anomaly_detection_lstm_spark.operators import corpus

    docs = corpus._docs(spark, SF_ORACLE)
    out = corpus.mixture_sample(docs)
    counts = {
        (r.lang): r.cnt
        for r in out.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()
    }
    totals = {
        (r.lang): r.cnt
        for r in docs.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()
    }
    assert counts["en"] == totals["en"]  # rate 1.0 keeps everything
    # rate 0.5 and 0.25 land near target (binomial noise at n~100)
    assert 0.3 <= counts["de"] / totals["de"] <= 0.7
    assert 0.1 <= counts["zh"] / totals["zh"] <= 0.45
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {
        r.doc_id
        for r in corpus.mixture_sample(docs.repartition(13)).collect()
    }
    assert ids1 == ids2


def test_metric_ewma_hand_computed(spark):
    """EWMA fold against the hand recursion, incl. the truncation
    window and per-series isolation."""
    import datetime as dt

    from prometheus_anomaly_detection_lstm_spark.operators import promql

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows = []
    for i, v in enumerate([10.0, 20.0, 30.0, 40.0]):
        rows.append((dt.datetime(2024, 1, 1, 0, i), "a", v, i))
    rows.append((dt.datetime(2024, 1, 1, 0, 0), "b", 99.0, 100))
    df = spark.createDataFrame(
        rows, "ts timestamp_ntz, metric string, value double, seq long"
    )
    out = {
        (r.metric, r.seq): r.ewma
        for r in promql.metric_ewma(df, alpha=0.3, k=3).collect()
    }
    assert out[("a", 0)] == 10.0
    assert out[("a", 1)] == round(10.0 * 0.7 + 0.3 * 20.0, 6)
    w2 = (10.0 * 0.7 + 0.3 * 20.0) * 0.7 + 0.3 * 30.0
    assert out[("a", 2)] == round(w2, 6)
    # k=3: seq 3's frame drops the first sample — seeded at seq 1
    w3 = (20.0 * 0.7 + 0.3 * 30.0) * 0.7 + 0.3 * 40.0
    assert out[("a", 3)] == round(w3, 6)
    assert out[("b", 100)] == 99.0  # series isolation


# ----------------------- ANSI degenerate-input guards (review pass 3)

def test_quality_scores_survive_empty_document(spark):
    """An empty doc (0 chars) must yield NULL ratios, not an ANSI
    DIVIDE_BY_ZERO that aborts the whole corpus job."""
    from prometheus_anomaly_detection_lstm_spark.operators.text import (
        quality_scores,
    )

    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "a fine doc", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert out[1]["punct_ratio"] is None
    assert out[1]["quality_score"] is None
    assert out[2]["quality_score"] is not None


def test_cosine_topk_survives_zero_vector(spark):
    """A zero embedding has no direction: its pairs score NULL and drop
    from the ranking instead of aborting under ANSI."""
    from prometheus_anomaly_detection_lstm_spark.operators.similarity import (
        cosine_topk,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.0, 0.0], 0),  # zero vector
            (2, [0.5, 0.5], 0),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    rows = cosine_topk(emb, n_queries=1, k=5).collect()
    ids = {r["c_id"] for r in rows}
    assert 2 in ids
    assert 1 not in ids  # NULL cosine dropped, job alive


def test_trend_slopes_null_on_single_instant_series(spark):
    """var_pop 0 (all samples at one instant) -> NULL slope, no crash."""
    import datetime as dt

    from prometheus_anomaly_detection_lstm_spark.io_tables import load_table  # noqa: F401
    from prometheus_anomaly_detection_lstm_spark.plans import extended
    from pyspark.sql import functions as F

    # drive the operator body through the registry callable on a temp
    # parquet dir shaped like the events table
    rows = [(i, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "only", 5.0, "{}")
            for i in range(3)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = extended.QUERIES["metric_trend_slopes"][0](spark, d).collect()
    assert len(out) == 1
    assert out[0]["slope_per_day"] is None


def test_nb_classifier_single_class_corpus(spark):
    """All-positive corpus: the classifier still scores the held-out
    fold (priors lopsided, every llr from one class) and the AUC is
    SQL NULL (no negative to rank against) rather than an ANSI
    divide-by-zero abort."""
    from prometheus_anomaly_detection_lstm_spark.operators import text

    docs = spark.createDataFrame(
        [(i, f"token{i} shared words here", "en", "s", 20) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    scored = text.nb_train_score(docs).collect()
    assert len(scored) == 2  # doc_ids 0 and 5 are the held-out fold
    assert all(r.is_pos == 1 for r in scored)
    auc = text.score_auc(
        text.nb_train_score(docs), "nb_score", "is_pos"
    ).collect()[0]
    assert auc.auc is None and auc.n_neg == 0 and auc.n_pos == 2
