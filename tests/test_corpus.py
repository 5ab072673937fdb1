"""Corpus-construction operator invariants (beyond the oracle parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.operators import corpus

from .conftest import SF_SMALL


def _docs(spark):
    return corpus._docs(spark, SF_SMALL)


def test_chunks_reassemble_to_original(spark):
    docs = _docs(spark)
    chunks = corpus.doc_chunks(docs)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
            ).alias("rebuilt"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    joined = docs.join(rebuilt, "doc_id")
    bad = joined.filter(F.col("text") != F.col("rebuilt")).count()
    assert bad == 0
    # token accounting: every chunk except possibly the last is full
    over = chunks.filter(F.col("n_tokens") > corpus.CHUNK_TOKENS).count()
    assert over == 0


def test_hash_sample_rate_and_determinism(spark):
    docs = _docs(spark)
    n = docs.count()
    s1 = corpus.hash_sample(docs)
    s2 = corpus.hash_sample(docs)
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2  # same sample, every run
    # ~5% rate with generous binomial slack for small corpora
    assert 0 < len(ids1) < max(0.20 * n, 10)


def test_pii_redaction_with_planted_pii(spark):
    from prometheus_anomaly_detection_lstm_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob.smith+x@mail.co.uk now"),
            (2, "server at 192.168.1.17 answered"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "nothing sensitive here"),
            (5, "mix: c@d.io from 10.0.0.1"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert out[1].n_email == 2 and "[EMAIL]" in out[1].clean_text
    assert "@" not in out[1].clean_text
    assert out[2].n_ip == 1 and "[IP]" in out[2].clean_text
    assert out[3].n_phone == 1 and "[PHONE]" in out[3].clean_text
    assert out[4].clean_text == "nothing sensitive here"
    assert out[5].n_email == 1 and out[5].n_ip == 1
    assert out[5].clean_text == "mix: [EMAIL] from [IP]"


def test_packing_conserves_corpus_and_respects_shards(spark):
    docs = _docs(spark)
    packs = corpus.doc_packing(docs).collect()
    toks = F.size(F.split(F.col("text"), " ")).cast("bigint")
    total = docs.select(F.sum(toks)).first()[0]
    assert sum(p.total_tokens for p in packs) == total
    assert sum(p.n_docs for p in packs) == docs.count()
    assert {p.shard for p in packs} <= set(range(corpus.PACK_SHARDS))
    # contiguous packing: only a pack's LAST doc may overflow the
    # target, so every pack except a shard's final one holds less than
    # target + its closing doc; weaker invariant: pack ids are dense
    for shard in {p.shard for p in packs}:
        ids = sorted(p.pack_id for p in packs if p.shard == shard)
        assert ids == list(range(len(ids)))


def _hot_label_emb(spark, n=20_000, hot_frac=0.95):
    """~95% of rows share one label — the hot-stratum corpus."""
    hot = int(n * hot_frac)
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("l"), F.pmod("id", F.lit(50))))
        .alias("label"),
    )


def test_stratified_sample_salted_matches_single_window(spark):
    """Two-phase salted rank == the naive one-window rank, exactly."""
    from pyspark.sql import Window

    emb = _hot_label_emb(spark, n=5_000)
    order_cols = [
        F.md5(F.col("vec_id").cast("string").cast("binary")),
        F.col("vec_id"),
    ]
    w = Window.partitionBy("label").orderBy(*order_cols)
    naive = (
        emb.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 10)
        .select("vec_id", "label", F.col("__rk").cast("bigint").alias("sample_rank"))
    )
    salted = corpus.stratified_sample(emb, per_label=10)
    a = sorted(map(tuple, naive.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b
    # every label capped at 10, ranks 1..k contiguous
    per = salted.groupBy("label").count().collect()
    assert all(r["count"] <= 10 for r in per)


def test_stratified_sample_spreads_hot_label(spark):
    """The phase-1 shard key (label, salt) cuts the hottest partition
    by >3x vs partitioning on label alone."""
    emb = _hot_label_emb(spark)
    parts = 16

    def max_partition_rows(df, *keys):
        return (
            df.repartition(parts, *keys)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )

    salt = F.pmod(F.hash("vec_id"), F.lit(corpus.STRATIFIED_SALTS))
    unsalted_max = max_partition_rows(emb, "label")
    salted_max = max_partition_rows(
        emb.withColumn("__salt", salt), "label", "__salt"
    )
    assert unsalted_max >= 19_000
    assert salted_max < unsalted_max / 3


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc embedding a benchmark doc's exact 4-gram is flagged;
    disjoint docs are not."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),      # benchmark (0 % 97 == 0)
        (1, "x1 alpha beta gamma delta x2 x3"),          # contains bench 4-gram
        (2, "p q r s t u v w"),                          # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.n_hits for r in corpus.decontaminate(docs).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out and 0 not in out


def test_shuffle_shards_is_deterministic_permutation(spark):
    docs = _docs(spark)
    a = corpus.shuffle_shards(docs).collect()
    b = corpus.shuffle_shards(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n = docs.count()
    assert len(a) == n and len({r.doc_id for r in a}) == n
    # per-shard positions are 1..k contiguous
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
        assert 0 <= shard < corpus.SHUFFLE_SHARDS


def test_token_budget_sample_respects_budget(spark):
    docs = _docs(spark)
    out = corpus.token_budget_sample(docs).collect()
    assert out  # binds to a non-empty sample on the fixture
    per_source_max = {}
    for r in out:
        per_source_max[r.source] = max(
            per_source_max.get(r.source, 0), r.cum_tokens
        )
        assert r.cum_tokens <= corpus.TOKEN_BUDGET_PER_SOURCE
    # kept set is a prefix in hash order: re-running with a bigger
    # budget only ADDS docs
    bigger = corpus.token_budget_sample(
        docs, budget=corpus.TOKEN_BUDGET_PER_SOURCE * 2
    ).collect()
    assert {r.doc_id for r in out} <= {r.doc_id for r in bigger}


def test_upsert_latest_semantics_and_plan(spark):
    """Delta wins on collision, new keys append, exactly one row per
    key; and the snapshot side is NEVER the build side of a shuffle —
    the anti join must broadcast the (small) delta."""
    from prometheus_anomaly_detection_lstm_spark.operators.corpus import (
        upsert_latest,
    )
    from pyspark.sql import functions as F

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    delta = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "k long, v string"
    )
    out = upsert_latest(snap, delta, ("k",))
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}
    assert out.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# ----------------------------- review-pass regression pins (pass 4)

def test_mixture_rate_one_keeps_every_doc(spark):
    """rate >= 1.0 must keep ALL docs of that language — the old
    'ffffffff' cap excluded the 2^-32 md5-prefix tail."""
    from prometheus_anomaly_detection_lstm_spark.operators.corpus import (
        _rate_hex, mixture_sample,
    )

    assert _rate_hex(1.0) == "g"  # sorts above every hex prefix
    docs = spark.createDataFrame(
        [(i, "text here", "xx", "s") for i in range(50)],
        "doc_id long, text string, lang string, source string",
    )
    out = mixture_sample(docs, rates={"xx": 1.0})
    assert out.count() == 50


def test_doc_chunks_empty_doc_emits_no_chunk(spark):
    from prometheus_anomaly_detection_lstm_spark.operators.corpus import (
        doc_chunks,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "a b c")], "doc_id long, text string"
    )
    rows = doc_chunks(docs).collect()
    assert {r["doc_id"] for r in rows} == {2}


def test_hash_sample_honors_custom_key_column(spark):
    from prometheus_anomaly_detection_lstm_spark.operators.corpus import (
        hash_sample,
    )

    emb = spark.createDataFrame(
        [(i, [0.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    out = hash_sample(emb, threshold_hex="8", key="vec_id")
    n = out.count()
    assert 0 < n < 200           # ~half survive
    assert out.columns == ["vec_id", "embedding"]  # pass-through
