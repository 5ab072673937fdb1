"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, and SimHash — each expressed in
pure Catalyst (no Python UDFs) so the 100-TB path is JVM-side:

* exact: one hash-groupBy shuffle on the content digest.
* n-gram Jaccard: shingle explode -> distinct -> self-equi-join on
  shingle (the classic inverted-index join) -> group pair -> ratio.
* MinHash/LSH: k independent min-hashes from 32-bit hex slices of
  md5(seed:shingle) — ceil(k/4) digests per shingle, string compare on
  fixed-width hex keeps the signature bit-identical across engines
  (oracle parity) — banded into buckets so the candidate join touches
  only colliding bands, never the full n² pair space.
* SimHash: 16-bit sign-aggregate of per-shingle md5 nibble parities;
  near-dup = small Hamming distance on the fingerprint.

All shuffles key on digests/shingles (uniform — no skew); candidate
verification joins are a tiny fraction of the corpus at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io_tables import load_table, parallelize_if_underpartitioned
from ..functions.checkpoint import cut_lineage

#: MinHash parameters: k = bands * rows_per_band.
MINHASH_K = 8
LSH_BANDS = 4
LSH_ROWS = 2
JACCARD_THRESHOLD = 0.12
SHINGLE_N = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup by content digest: keep lowest doc_id per digest."""
    return (
        docs.withColumn("digest", F.md5(F.col("text").cast("binary")))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingles_raw(
    docs: DataFrame, n: int = SHINGLE_N, gate: bool = True
) -> DataFrame:
    """Word n-gram shingle STREAM per doc (duplicates kept).

    The docs are hash-repartitioned by doc_id ONLY when the scan is
    under-split (local single-row-group testdata): without it the
    explode+md5 stage — the dominant CPU of every shingle consumer —
    runs as ONE task; with it the map work parallelizes and the
    signature aggregation's ClusteredDistribution(doc_id) is already
    satisfied — no second exchange.  The gate
    (``parallelize_if_underpartitioned``) keeps the exchange OFF a real
    lake whose scan is already well-split (round-3 verdict finding #2).
    Measured ~30% off dedup_minhash_lsh at sf0.1 locally.

    ``gate=False`` is for callers that ALREADY hash-distributed the doc
    frame by doc_id (``minhash_lsh_dedup(pre_key=True)``): the gate's
    metadata estimate traces inputFiles() through a repartition, so it
    would re-fire on the pre-keyed frame and stack a second exchange.
    """
    words = F.split(F.col("text"), " ")
    if gate:
        docs = parallelize_if_underpartitioned(docs, "doc_id")
    return (
        docs.withColumn("words", words)
        .filter(F.size("words") >= n)
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, size(words) - {n - 1})")).alias("i"),
            "words",
        )
        .select(
            "doc_id",
            F.expr(f"concat_ws(' ', slice(words, i, {n}))").alias("shingle"),
        )
    )


def shingles(
    docs: DataFrame, n: int = SHINGLE_N, gate: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return _shingles_raw(docs, n, gate).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """All doc pairs with shingle-set Jaccard >= threshold.

    Inverted-index join: |pairs sharing a shingle| << n² for
    discriminative shingles.  Output (doc_a, doc_b, jaccard).
    """
    # The shingle stream feeds FIVE consumers (sizes, dfreq, the
    # ranked join's left side, and both verify-join sides) and the
    # prefix self-join doubles the ranked chain — Catalyst re-executes
    # the scan+explode per consumer: 8 executed corpus scans (round-12
    # scan audit).  One lazy localCheckpoint materializes the ~1×
    # amplified (doc_id, shingle) frame once — the waist-table trade:
    # at lake scale, one materialization vs seven corpus re-reads.
    # Interleaved full-cost A/B at sf0.1: 12.62 -> 9.99 s median-of-5,
    # hash-identical; also checkpointing `prefix` measured neutral
    # (9.79 s) and was rejected — it doubles the executor spill for
    # noise-level gain.  Executor-loss caveat: see
    # events_association_rules (relational.py).
    sh = shingles(docs).transform(cut_lineage)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # AllPairs/PPJoin prefix filtering (EXACT): under a global shingle
    # order (document frequency asc, then shingle — rarest first), any
    # pair with Jaccard >= t shares >= ceil(t*|A|) shingles, so the
    # rarest |A| - ceil(t*|A|) + 1 shingles of each doc (its "prefix")
    # must overlap the other doc's prefix.  Candidate generation joins
    # ONLY prefixes — a high-df stop-word shingle lands in a prefix only
    # where it is among a doc's rarest (1-t) fraction, so the k² blowup
    # of shared frequent shingles never reaches the join.
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    w_doc = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("__rn", F.row_number().over(w_doc))
        .withColumn("__n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    # -1e-9 guards the float product at integral boundaries (e.g.
    # 0.12*25 = 3.0000000000000004 would ceil to 4 and shorten the
    # prefix below what the AllPairs completeness theorem requires).
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + 1
    ).select("doc_id", "shingle", "__rn", "__n")
    # PPJoin refinements on the prefix self-join (round 13; both EXACT,
    # the containment_pairs precedent adapted to the symmetric measure):
    # - length filter: J(A,B) >= t forces t*|A| <= |B| <= |A|/t
    #   (|A∩B| <= min and >= t*max of the two set sizes).
    # - positional filter: under the shared rarest-first order every
    #   element of A∩B ranks at or behind the pair's FIRST common
    #   shingle in BOTH docs, so |A∩B| <= 1 + min(|A|-rn_a, |B|-rn_b);
    #   J >= t needs |A∩B| >= ceil(t/(1+t)*(|A|+|B|)) (from
    #   I/(|A|+|B|-I) >= t).  No false negatives: the first common
    #   shingle lies in BOTH prefixes (AllPairs pigeonhole on each
    #   side), so that join row exists and its bound dominates the true
    #   intersection.  Same -1e-9 float-boundary guard as the prefix.
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("__rn").alias("__rn_a"),
        F.col("__n").alias("__n_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("__rn").alias("__rn_b"),
        F.col("__n").alias("__n_b"),
    )
    cands = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (
                F.col("__n_b")
                >= F.ceil(
                    F.lit(threshold) * F.col("__n_a") - F.lit(1e-9)
                )
            )
            & (
                F.col("__n_a")
                >= F.ceil(
                    F.lit(threshold) * F.col("__n_b") - F.lit(1e-9)
                )
            )
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("__n_a") - F.col("__rn_a"),
                F.col("__n_b") - F.col("__rn_b"),
            )
            >= F.ceil(
                F.lit(threshold)
                / F.lit(1.0 + threshold)
                * (F.col("__n_a") + F.col("__n_b"))
                - F.lit(1e-9)
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    # sizes is corpus-proportional (one row per doc) — no broadcast
    # hint: AQE broadcasts it at runtime only when its measured size is
    # under the threshold, and shuffle-joins at web scale (a forced
    # broadcast of per-doc metadata OOMs on a 100-TB corpus)
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


#: 8-hex-char (32-bit) slices carved from each md5 digest.
MINHASH_SLICES = 4


def minhash_signatures(
    docs: DataFrame,
    k: int = MINHASH_K,
    with_size: bool = False,
    gate: bool = True,
) -> DataFrame:
    """(doc_id, sig_1..sig_k): k independent min-hashes of the shingle set.

    sig_i = min over shingles of an 8-hex-char slice of
    md5('<seed>:' || shingle): slice ``j = (i-1) % 4`` of seed
    ``(i-1) // 4 + 1``.  Each 32-bit slice of a digest is an
    independent random-oracle value and lexicographic min on
    fixed-width lowercase hex equals numeric min, so this is the same
    engine-portable min-hash family at ceil(k/4) md5 evaluations per
    shingle instead of k — the hash is the dominant CPU of the
    signature stage.

    Aggregates the RAW (pre-distinct) shingle stream: min is
    duplicate-insensitive, so the distinct's full-data shuffle is
    skipped and the partial min collapses to one row per doc map-side.
    ``with_size=True`` adds the DISTINCT shingle count (``n_sh``).
    """
    sh = _shingles_raw(docs, gate=gate)
    # One F.expr string per aggregate (1 py4j round-trip each) instead
    # of a 6-deep Column chain (~6 round-trips each): measured ~1.8 ms
    # per py4j call on this box, this is ~80 ms off every plan
    # CONSTRUCTION — driver-side latency that re-occurs per query
    # submission, independent of data size.
    aggs = []
    for i in range(1, k + 1):
        seed = (i - 1) // MINHASH_SLICES + 1
        j = (i - 1) % MINHASH_SLICES
        aggs.append(
            F.expr(
                f"min(substring(md5(cast(concat('{seed}:', shingle)"
                f" as binary)), {8 * j + 1}, 8)) AS sig_{i}"
            )
        )
    if with_size:
        aggs.append(F.countDistinct("shingle").alias("n_sh"))
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_buckets(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, bucket): the banded-LSH bucket assignment.

    Bucket key is the raw sig concat — already fixed-width hex,
    re-hashing it buys nothing and costs an md5 per row per band.
    The whole band array is ONE expr string (construction-latency
    discipline, see minhash_signatures)."""
    structs = ", ".join(
        "struct({b} AS band, concat_ws('|', {parts}) AS bucket)".format(
            b=b,
            parts=", ".join(
                f"sig_{b * rows + r + 1}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Banded LSH: docs sharing ANY band bucket become a candidate pair."""
    buckets = lsh_buckets(sigs, bands, rows)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _verify_jaccard(
    sh: DataFrame, cands: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    against the distinct shingle frame ``sh``."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # sizes is corpus-proportional (one row per doc) — no broadcast
    # hint: AQE broadcasts it at runtime only when its measured size is
    # under the threshold, and shuffle-joins at web scale (a forced
    # broadcast of per-doc metadata OOMs on a 100-TB corpus)
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def pre_key_docs(docs: DataFrame) -> DataFrame:
    """Hash-distribute the RAW doc frame by doc_id unconditionally,
    BEFORE shingle amplification — the exchange-placement move behind
    ``minhash_lsh_dedup(pre_key=True)`` (round-10 interleaved A/B at
    sf1: shuffle 63.6 → 21.4 MB, wall 9.0 → 6.3 s).  Downstream
    per-doc aggregates and verify joins inherit
    HashPartitioning(doc_id), so the ~3×-bytes amplified stream never
    re-shuffles; the inequality (move 1× corpus once vs the amplified
    stream repeatedly) strengthens with scale.  Callers must pass
    ``gate=False`` to the shingle/signature producers (the under-split
    gate would re-fire through the repartition)."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n, "doc_id")


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    pre_key: bool = False,
) -> DataFrame:
    """MinHash->LSH candidates verified with exact Jaccard.

    The scale path for near-dedup: the only joins are (a) band-bucket
    equi-join over colliding buckets and (b) shingle join restricted to
    candidate pairs.  Output (doc_a, doc_b, jaccard).

    The shingle set feeds three consumers (signatures, sizes, candidate
    verification).  It is deliberately RECOMPUTED per consumer rather
    than persisted: the explode+distinct is a cheap map-side stage, and
    measured locally a ``persist()`` here costs more (forced
    materialization + cache memory pressure) than three recomputes.
    Revisit only if the shingle stage grows an expensive upstream.

    ``pre_key=True`` (the registered flagship's setting, round-10 A/B
    in BASELINE.md): hash-distribute the RAW doc frame by doc_id
    unconditionally before amplification.  Exchange placement, not
    parallelism, is the win — the per-doc distinct, the sizes rollup
    and the verify joins all inherit HashPartitioning(doc_id), so the
    exchanges that would otherwise move the AMPLIFIED shingle stream
    (~3× corpus bytes each) collapse to one pre-amplification exchange
    of raw docs.  Measured at sf1: shuffle 63.6 → 21.4 MB, wall 9.0 →
    6.3 s median, interleaved A/B.  At 100 TB the same inequality
    holds (1× corpus bytes moved once vs the amplified stream moved at
    the verify joins), so this is on by default for the flagship, not
    gated on local under-splitting.
    """
    if pre_key:
        docs = pre_key_docs(docs)
        cands = lsh_candidate_pairs(minhash_signatures(docs, gate=False))
        return _verify_jaccard(shingles(docs, gate=False), cands, threshold)
    cands = lsh_candidate_pairs(minhash_signatures(docs))
    return _verify_jaccard(shingles(docs), cands, threshold)


def minhash_lsh_dedup_incremental(
    docs: DataFrame,
    new_min_id: int,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Near-dup pairs INVOLVING at least one new doc (id >= new_min_id).

    The daily-increment shape of corpus dedup: when a batch of new
    documents arrives, only (new x corpus) and (new x new) pairs can be
    novel — old x old pairs were found when the old docs arrived.  The
    band join therefore probes the FULL bucket table with only the NEW
    side: the heavy existing corpus participates as a join build input
    keyed by bucket, never self-joins.  Incremental cost scales with
    |new| x bucket occupancy, not |corpus|².

    Here the old signatures are recomputed from ``docs`` for
    self-containment; in production they load from the signature store
    (``minhash_signatures`` written per ingest batch — the signature
    table IS the dedup index).  Output is exactly
    ``minhash_lsh_dedup(docs)`` filtered to pairs with
    ``doc_b >= new_min_id`` (pairs are emitted doc_a < doc_b, so the
    max side decides novelty).
    """
    # The bucket table feeds BOTH band-join sides (full corpus probe +
    # the new-doc filter) and the verify stage re-derives the shingle
    # stream — Catalyst re-executed the signature chain per consumer:
    # 6 executed corpus scans (round-12 audit).  Two lazy checkpoints
    # (the doc×bands bucket table; the ~1× shingle stream — the
    # jaccard/containment precedent) cut that to two materializations.
    # Interleaved full-cost A/B at sf0.1: 4.14 -> 3.08 s median-of-5,
    # hash-identical.  In production the bucket table IS the loaded
    # signature-store index, so the checkpoint mirrors the deployment
    # shape.  Executor-loss caveat: see events_association_rules
    # (relational.py).
    buckets = band_buckets(
        minhash_signatures(docs), bands, rows
    ).transform(cut_lineage)
    new_buckets = buckets.filter(F.col("doc_id") >= new_min_id)
    cands = (
        buckets.alias("a")
        .join(
            new_buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_jaccard(
        shingles(docs).transform(cut_lineage), cands, threshold
    )


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash fingerprint per doc: (doc_id, simhash BIGINT).

    Bit i = sign of sum over shingles of (2·parity(nibble_i) − 1) where
    nibble_i is the i-th hex digit of the shingle's md5.  Pure string /
    integer expressions -> identical across engines.
    """
    sh = shingles(docs).withColumn(
        "h", F.md5(F.col("shingle").cast("binary"))
    )
    bit_sums = [
        F.sum(
            (
                F.expr(
                    f"(locate(substr(h, {i + 1}, 1), '0123456789abcdef') - 1) % 2"
                )
            )
            * 2
            - 1
        ).alias(f"s_{i}")
        for i in range(16)
    ]
    agg = sh.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(16):
        bit = F.when(F.col(f"s_{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Doc pairs whose SimHash Hamming distance <= max_hamming.

    Pigeonhole banding (EXACT, not approximate): the 16-bit fingerprint
    is split into ``max_hamming + 1`` bands; two fingerprints within
    Hamming ``max_hamming`` can differ in at most ``max_hamming`` bands,
    so they must agree EXACTLY on at least one band.  Candidates are
    therefore a hash equi-join on (band_idx, band_bits) — never the n²
    pair space — and each candidate is verified with the true Hamming
    distance.  Same answer as the all-pairs formulation, scale-safe.
    """
    fps = simhash16(docs)
    n_bands = max_hamming + 1
    band_bits = 16 // n_bands  # 4 bands x 4 bits for the 16-bit simhash
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bits"),
            )
            for i in range(n_bands)
        ]
    )
    keyed = fps.select(
        "doc_id", "simhash", F.explode(bands).alias("bb")
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bits").alias("bits"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("bigint")
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------------------------- oracles

def _shingle_cte(n: int = SHINGLE_N) -> str:
    concat = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    return f"""w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= {n}
),
sh AS (
  SELECT DISTINCT doc_id, {concat} AS shingle
  FROM w, unnest(generate_series(1, len(ws) - {n - 1})) AS t(i)
)"""


ORACLE_EXACT_DUPLICATES = """SELECT md5(text) AS digest,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1"""

ORACLE_NGRAM_JACCARD = f"""WITH {_shingle_cte()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}"""


def _sig_cols(k: int = MINHASH_K) -> str:
    cols = []
    for i in range(1, k + 1):
        seed = (i - 1) // MINHASH_SLICES + 1
        j = (i - 1) % MINHASH_SLICES
        cols.append(
            f"min(substr(md5('{seed}:' || shingle), {8 * j + 1}, 8)) AS sig_{i}"
        )
    return ",\n         ".join(cols)


def _band_select(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> str:
    parts = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"sig_{b * rows + r + 1}" for r in range(rows)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, {cols} AS bucket FROM sigs"
        )
    return "\nUNION ALL\n".join(parts)


def _minhash_lsh_sql(threshold: float) -> str:
    """Banded-LSH near-dup pair SQL at an arbitrary Jaccard threshold."""
    return f"""WITH {_shingle_cte()},
sigs AS (
  SELECT doc_id, {_sig_cols()}
  FROM sh GROUP BY doc_id
),
buckets AS (
{_band_select()}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {threshold}"""


ORACLE_MINHASH_LSH = _minhash_lsh_sql(JACCARD_THRESHOLD)

#: "new docs" split for the incremental-dedup driver query: ids >= 400
#: are the arriving batch (100 of the 500 docs at the graded sf).
INCREMENTAL_NEW_MIN_ID = 400

#: the incremental result is definitionally the full pair set filtered
#: to pairs whose max side is new — the oracle states exactly that.
ORACLE_MINHASH_INCREMENTAL = f"""SELECT * FROM (
{_minhash_lsh_sql(JACCARD_THRESHOLD)}
) WHERE doc_b >= {INCREMENTAL_NEW_MIN_ID}"""

#: connected components over the 0.05-threshold pair graph as a
#: RECURSIVE CTE: reach(node, r) enumerates reachable labels, min(r) is
#: the component — turning the iterative Spark operator's rows-only
#: check into a full hash-checked oracle (component size² state per
#: component is fine at oracle scale; Spark's label propagation is the
#: 100-TB path).
ORACLE_DEDUP_CLUSTERS = f"""WITH RECURSIVE pairs AS (
{_minhash_lsh_sql(0.05)}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT component, CAST(count(*) AS BIGINT) AS size,
       min(node) AS keep_doc_id
FROM cc GROUP BY component"""


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum(((strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) % 2) * 2 - 1) AS s_{i}"
        for i in range(16)
    )
    fp = " + ".join(
        f"CASE WHEN s_{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16)
    )
    return f"""WITH {_shingle_cte()},
hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
bits AS (
  SELECT doc_id,
         {sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits"""


ORACLE_SIMHASH = _simhash_sql()

ORACLE_SIMHASH_PAIRS = f"""WITH fp AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""



# ------------------------------------------------------------- registry

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre_key: exchange-placement win measured at sf1 (63.6 -> 21.4 MB
    # shuffle); other minhash consumers keep the gated default until
    # their window slots come up (round-11).
    return minhash_lsh_dedup(_docs(spark, sf_dir), pre_key=True)


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_dedup_incremental(
        _docs(spark, sf_dir), INCREMENTAL_NEW_MIN_ID
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash16(_docs(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .clusters import dedup_clusters

    # pre_key: round-10 flagship A/B (BASELINE.md) — flipped round 11
    pairs = minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.05, pre_key=True)
    return dedup_clusters(pairs)


def dedup_apply(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The end-to-end dedup a corpus user actually runs: keep ONE
    representative (min doc_id) per near-dup cluster, drop the rest.

    pairs -> connected components -> non-representative ids -> LEFT ANTI
    join against the corpus.  All keyed joins; the anti join's right
    side is only the duplicate ids (small).  Output: surviving
    (doc_id, n_tokens).
    """
    from .clusters import connected_components

    comps = connected_components(pairs)
    dupes = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(dupes, "doc_id", "left_anti").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )


ORACLE_DEDUP_APPLY = f"""WITH RECURSIVE pairs AS (
{{minhash}}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node != component)"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_dedup(docs, threshold=0.05, pre_key=True)
    return dedup_apply(docs, pairs)


def neardup_keep_best(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Quality-priority near-dup dedup (the RefinedWeb-style keep-one
    policy): within each near-dup cluster keep the LONGEST member
    (most-complete version; ties break on min doc_id) instead of
    ``dedup_apply``'s arbitrary min-id representative.  Unclustered
    docs pass through as their own singleton.

    Shape: connected components (label propagation + pointer jumping,
    shared with dedup_apply) -> one cluster-partitioned window picks
    the representative and the cluster size (cluster-bounded state, no
    global sort) -> LEFT ANTI passes the unclustered corpus through
    map-only.  Output: surviving (doc_id, n_tokens, cluster_size).
    """
    from pyspark.sql import Window

    from .clusters import connected_components

    comps = connected_components(pairs)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    clustered = comps.join(
        toks, comps["node"] == toks["doc_id"]
    ).select("doc_id", "component", "n_tokens")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = clustered.withColumn(
        "rk", F.row_number().over(w)
    ).withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("component")).cast("bigint"),
    )
    reps = ranked.filter(F.col("rk") == 1).select(
        "doc_id", "n_tokens", "cluster_size"
    )
    unique = toks.join(
        comps.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    ).withColumn("cluster_size", F.lit(1).cast("bigint"))
    return unique.select("doc_id", "n_tokens", "cluster_size").unionByName(
        reps
    )


ORACLE_NEARDUP_KEEP_BEST = f"""WITH RECURSIVE pairs AS (
{{minhash}}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT c.node AS doc_id, c.component, t.n_tokens,
         row_number() OVER (PARTITION BY c.component
             ORDER BY t.n_tokens DESC, c.node) AS rk,
         count(*) OVER (PARTITION BY c.component) AS cluster_size
  FROM cc c JOIN toks t ON t.doc_id = c.node
)
SELECT t.doc_id, t.n_tokens, CAST(1 AS BIGINT) AS cluster_size
FROM toks t WHERE t.doc_id NOT IN (SELECT node FROM cc)
UNION ALL
SELECT doc_id, n_tokens, CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rk = 1"""


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_dedup(docs, threshold=0.05, pre_key=True)
    return neardup_keep_best(docs, pairs)


QUERIES = {
    "dedup_exact": (q_dedup_exact, ORACLE_EXACT_DUPLICATES),
    "dedup_ngram_jaccard": (q_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "dedup_minhash_lsh": (q_minhash_lsh, ORACLE_MINHASH_LSH),
    "dedup_minhash_incremental": (
        q_minhash_incremental,
        ORACLE_MINHASH_INCREMENTAL,
    ),
    "dedup_simhash": (q_simhash, ORACLE_SIMHASH),
    "dedup_simhash_pairs": (q_simhash_pairs, ORACLE_SIMHASH_PAIRS),
    # iterative in Spark (label propagation + pointer jumping); the
    # oracle expresses the same components as a DuckDB recursive CTE
    "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "dedup_apply": (
        q_dedup_apply,
        ORACLE_DEDUP_APPLY.format(minhash=_minhash_lsh_sql(0.05)),
    ),
    "corpus_neardup_keep_best": (
        q_neardup_keep_best,
        ORACLE_NEARDUP_KEEP_BEST.format(minhash=_minhash_lsh_sql(0.05)),
    ),
}


# ---------------------------------------------------------- containment

CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(
    docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """All ordered doc pairs with shingle-set CONTAINMENT
    C(A, B) = |A ∩ B| / |A| >= threshold — the asymmetric near-dup
    relation Jaccard misses: a short document wholly embedded in a long
    one has high containment but low Jaccard (|A∩B|/|A∪B| shrinks with
    the size gap), which is exactly the quote/boilerplate/subset-dup
    case a training-data scrub cares about.

    EXACT via the same AllPairs-style bound as :func:`ngram_jaccard_pairs`,
    adapted to the asymmetric measure: C(A,B) >= t forces
    |A ∩ B| >= ceil(t·|A|), so under the global rarest-first shingle
    order A's prefix of size |A| - ceil(t·|A|) + 1 must intersect B's
    FULL set (B is unrestricted — the relation is one-sided).
    Candidate generation joins A-prefixes against the full inverted
    index; the exact intersection count then verifies candidates only.
    Self-pairs and A=B excluded; both (A,B) and (B,A) can appear, each
    on its own threshold test.
    """
    # Same waist-table trade as ngram_jaccard_pairs above: the shingle
    # stream feeds six consumers (sizes, dfreq, ranked's left side, the
    # candidate join's full-index side, and both verify-join sides) and
    # Catalyst re-executed the scan+explode per consumer (6 executed
    # corpus scans, round-12 audit).  One lazy localCheckpoint
    # materializes the ~1× amplified frame once.  Interleaved full-cost
    # A/B at sf0.1: 25.3 -> 17.4 s median-of-5 (busy-box minute; every
    # B pass under its paired A), hash-identical.  Executor-loss
    # caveat: see events_association_rules (relational.py).
    sh = shingles(docs).transform(cut_lineage)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    w_doc = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("__rn", F.row_number().over(w_doc))
        .withColumn("__n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    # same -1e-9 float-boundary guard as the Jaccard prefix
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + 1
    ).select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("__rn").alias("__rn_a"),
        F.col("__n").alias("__n_a"),
    )
    # Candidate generation joins A-prefixes against the RANKED index so
    # the PPJoin positional upper bound can prune pairs before the
    # verify join (round 13; EXACT): under the shared rarest-first
    # total order, every element of A∩B ranks at or behind the pair's
    # FIRST common shingle in BOTH documents, so
    # |A∩B| <= 1 + min(|A|-rn_a, |B|-rn_b) — pairs whose bound cannot
    # reach ceil(t*|A|) are dropped with no false negatives (the first
    # common shingle is always within A's prefix by the AllPairs
    # pigeonhole, so the bound is evaluated at that match).  sf1
    # copyvariant corpus: candidates 90.7M -> 64.8M, full pass
    # 471 -> ~340 s at 32 cores (plan evidence plans/r13/).
    bstream = ranked.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("__rn").alias("__rn_b"),
        F.col("__n").alias("__n_b"),
    )
    cands = (
        prefix.join(bstream, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(
            F.lit(1)
            + F.least(
                F.col("__n_a") - F.col("__rn_a"),
                F.col("__n_b") - F.col("__rn_b"),
            )
            >= F.ceil(F.lit(threshold) * F.col("__n_a") - F.lit(1e-9))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    # shuffle_hash: the planner picked sort-merge for this doc-scale
    # side (the checkpointed stream carries no stats), sorting the
    # pair-scale inter frame — 90.7M rows / 26 GB sort spill at sf1
    # (r13 event-log evidence).  A per-partition hash build of the
    # sizes side is scale-safe at any corpus size.
    return (
        inter.join(sa.hint("shuffle_hash"), "doc_a")
        .withColumn("containment", F.col("inter") / F.col("na"))
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("containment", 6).alias("containment"),
        )
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(_docs(spark, sf_dir))


ORACLE_CONTAINMENT = f"""WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           array_to_string(toks[i : i + {SHINGLE_N} - 1], ' ') AS shingle
    FROM (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= {SHINGLE_N}
    ), UNNEST(generate_series(1, len(toks) - {SHINGLE_N} + 1)) AS t(i)
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / sa.n_sh, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE i * 1.0 / sa.n_sh >= {CONTAINMENT_THRESHOLD}"""

QUERIES["text_containment_pairs"] = (q_containment_pairs, ORACLE_CONTAINMENT)


# -------------------------------------------------------- band buckets

def band_buckets(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, bucket) LSH band-bucket rows from a signature
    frame — the canonical shape of the corpus dedup index."""
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r + 1}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", *parts).alias("bucket"),
            )
        )
    return (
        sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bb"))
        .select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


# ----------------------------------------------- related-docs top-k

#: relatedness floor + neighbors kept for the related-docs query.
RELATED_THRESHOLD = 0.05
RELATED_TOP_K = 3


def related_docs_topk(
    docs: DataFrame,
    threshold: float = RELATED_THRESHOLD,
    k: int = RELATED_TOP_K,
) -> DataFrame:
    """Top-k most-similar documents per document ("related articles"):
    the minhash candidate machinery re-used for RETRIEVAL instead of
    removal.

    Pairs come from the banded-LSH candidate join + exact-Jaccard
    verify (same subtree as dedup_minhash_lsh), symmetrized so each
    side sees the other as a neighbor, then ranked per document —
    the rank window partitions by doc, so parallelism follows corpus
    size and the only new shuffle is the pair-scale rank exchange.
    """
    # the symmetrization union consumes `pairs` TWICE and Catalyst
    # re-executed the whole banded-LSH + verify chain for each side
    # (12 executed corpus scans = 2x the flagship's 6, round-12
    # audit).  The frame is PAIR-scale (near-dup volume), so one lazy
    # checkpoint halves the chain executions: scans 12 -> 6.
    # Executor-loss caveat: see events_association_rules (relational.py).
    pairs = minhash_lsh_dedup(docs, threshold, pre_key=True).transform(
        cut_lineage
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc"),
        F.col("doc_b").alias("nbr"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc"),
            F.col("doc_a").alias("nbr"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("jaccard"), F.asc("nbr")
    )
    return (
        sym.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def q_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return related_docs_topk(_docs(spark, sf_dir))


ORACLE_RELATED_DOCS = f"""WITH p AS (
{_minhash_lsh_sql(RELATED_THRESHOLD)}
),
sym AS (
  SELECT doc_a AS doc, doc_b AS nbr, jaccard FROM p
  UNION ALL
  SELECT doc_b AS doc, doc_a AS nbr, jaccard FROM p
),
rk AS (
  SELECT doc, nbr, jaccard,
         row_number() OVER (PARTITION BY doc
                            ORDER BY jaccard DESC, nbr ASC) AS rk
  FROM sym
)
SELECT doc, nbr, jaccard, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= {RELATED_TOP_K}"""

QUERIES["text_related_docs_topk"] = (q_related_docs, ORACLE_RELATED_DOCS)


# ------------------------------------------- banding recall evaluation

def minhash_recall_eval(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """One-row evaluation of the banded-LSH candidate generator against
    exact AllPairs Jaccard at the same threshold: the in-registry
    answer to "what does the banding miss?".

    found ⊆ true by construction (candidates are verified with the
    SAME exact-Jaccard threshold), so precision is identically 1 and
    the interesting number is recall = found/true — banding misses are
    pairs above threshold that collide in no band.  Both sides reuse
    the existing operators; the comparison join is pair-scale.
    """
    # three actions consume each pair set — persist both so the
    # AllPairs and minhash subtrees run ONCE, not twice each
    true_pairs = (
        ngram_jaccard_pairs(docs, threshold=threshold)
        .select("doc_a", "doc_b")
        .persist()
    )
    found_pairs = (
        minhash_lsh_dedup(docs, threshold, pre_key=True)
        .select("doc_a", "doc_b")
        .persist()
    )
    n_true = true_pairs.count()
    hit = found_pairs.join(true_pairs, ["doc_a", "doc_b"]).count()
    n_found = found_pairs.count()
    true_pairs.unpersist()
    found_pairs.unpersist()
    spark = docs.sparkSession
    # Explicit schema: with n_true == 0 every recall is NULL and type
    # inference would fail; recall is rounded by Spark's SQL `round`
    # (half-away-from-zero) so it matches the oracle digit-for-digit —
    # Python's round() banker's-rounds and can disagree in the 6th
    # decimal.
    counts = spark.createDataFrame(
        [(n_true, n_found, hit)],
        schema="n_true long, n_found long, n_hit long",
    )
    return counts.select(
        "n_true",
        "n_found",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_hit") / F.col("n_true"), 6),
        ).alias("recall"),
    )


def q_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_recall_eval(_docs(spark, sf_dir))


ORACLE_MINHASH_RECALL = f"""WITH t AS (
{ORACLE_NGRAM_JACCARD}
),
f AS (
{_minhash_lsh_sql(JACCARD_THRESHOLD)}
),
h AS (
  SELECT count(*) AS n_hit
  FROM f JOIN t ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
)
SELECT (SELECT count(*) FROM t) AS n_true,
       (SELECT count(*) FROM f) AS n_found,
       n_hit,
       round(n_hit * 1.0 / (SELECT count(*) FROM t), 6) AS recall
FROM h"""

QUERIES["dedup_minhash_recall_eval"] = (
    q_minhash_recall_eval,
    ORACLE_MINHASH_RECALL,
)


# ------------------------------------------------------------------
# Edit-distance near-dup (banded candidates + Levenshtein verify)

EDIT_MAX_DIST = 40


def edit_distance_near_dups(
    docs: DataFrame, max_edit: int = EDIT_MAX_DIST
) -> DataFrame:
    """Near-duplicate pairs by CHARACTER edit distance — the fuzzy-dup
    family member for small in-place corruptions (OCR noise, diff-sized
    boilerplate) that token-set Jaccard under-weights.

    Candidates come from the MINHASH banded-LSH generator (the same
    signature machinery as ``dedup_minhash_lsh`` — growth-measured
    ~2-3x wall for 10x docs): a small character edit budget implies
    high shingle-set overlap (a ~{d}-char edit touches at most ~d/5
    tokens, i.e. ~3·d/5 of ~n shingles), so band collisions capture
    the same pairs a fingerprint gate would.  A length prefilter
    (|len_a − len_b| > d ⇒ dist > d, a free metric bound) then guards
    the O(len²) Levenshtein DP so it only runs on plausible pairs.
    Output (doc_a, doc_b, edit_dist).

    TWO earlier candidate gates were built and KILLED by their own
    growth/measurement runs: 16-bit SimHash at Hamming <= 7 (2-bit
    bands -> 4 buckets/band -> quadratic candidate volume, the 10x
    step ran past a 30-minute timeout) and Hamming <= 3 (4-bit bands
    -> 22.6 s at 1x because millions of colliding NON-similar pairs
    reach the DP).  The banded-minhash gate has bucket space that
    grows with the corpus's shingle diversity, not a fixed 16-bit
    space — the property that keeps candidates near-linear.

    The LSH gate bounds RECALL like every banded dedup here (25 of 32
    true pairs at sf0.01 — on par with the fingerprint gates).  The
    oracle applies the IDENTICAL candidate predicate (same sliced-md5
    signature family in SQL), so the result is answer-identical
    across engines by construction.
    """
    cands = lsh_candidate_pairs(minhash_signatures(docs))
    # The text sides carry `merge` hints: they are corpus-proportional
    # (full document text), so at scale a broadcast is impossible and
    # the sort-merge join is the ONLY plan — and locally, letting AQE
    # broadcast them puts the whole DP stage onto the skinny candidate
    # stream, which AQE's partition coalescing then collapses to a
    # handful of tasks (measured 47.6 s vs 8.7 s at 4x growth scale:
    # the Levenshtein work serialized).  The hint enforces the
    # at-scale shape everywhere.
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    ).hint("merge")
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    ).hint("merge")
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            F.abs(F.length("text_a") - F.length("text_b")) <= max_edit
        )
        # THRESHOLDED levenshtein: the banded DP is O(d·n) instead of
        # O(n²) per pair (~25x at d=40 on ~1 kB texts — measured: the
        # DP stage dominated the growth run before this).  Returns -1
        # past the threshold, so the filter keeps [0, max_edit] — the
        # exact row set the oracle's unthresholded form retains.
        .withColumn(
            "edit_dist",
            F.levenshtein("text_a", "text_b", max_edit).cast("bigint"),
        )
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_edit)
        )
        .select("doc_a", "doc_b", "edit_dist")
    )


def q_edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_distance_near_dups(_docs(spark, sf_dir))


ORACLE_EDIT_DISTANCE = f"""WITH {_shingle_cte()},
sigs AS (
  SELECT doc_id, {_sig_cols()}
  FROM sh GROUP BY doc_id
),
buckets AS (
{_band_select()}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
FROM cands c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
WHERE abs(len(da.text) - len(db.text)) <= {EDIT_MAX_DIST}
  AND levenshtein(da.text, db.text) <= {EDIT_MAX_DIST}"""

QUERIES["dedup_edit_distance"] = (q_edit_distance_dups, ORACLE_EDIT_DISTANCE)
