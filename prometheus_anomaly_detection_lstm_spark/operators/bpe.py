"""Distributed BPE tokenizer induction (byte-pair-encoding merges).

The canonical tokenizer-training step of an LLM data pipeline
(Sennrich et al., 2016): start from characters, repeatedly merge the
most frequent adjacent symbol pair.  Engine-completeness work — the
reference (vpuhoff/prometheus-anomaly-detection-lstm) has no text surface.

Spark-first shape:

- The corpus collapses to a WORD-FREQUENCY table first (classic BPE
  operates on the word dict, not raw text): one corpus scan, then every
  iteration works on vocabulary-scale data — at 100 TB the word table
  is millions of rows, not billions of tokens.
- Per iteration: adjacent-pair counts are one explode + keyed aggregate
  (weighted by word count); the argmax pair — ONE row — comes to the
  driver (the same driver-side-scalar class as ml/train.py, allowlisted
  by design: BPE's merge choice is inherently sequential); the merge is
  applied with a Catalyst ``aggregate()`` fold over the token arrays —
  leftmost, non-overlapping, no re-merge within the pass, and NO Python
  UDF anywhere.
- Ties break deterministically (count desc, pair lexical asc), so the
  learned merge table is reproducible across partitionings and engines.

``learn_bpe_merges`` has no SQL twin (iterative argmax); it is a
rows-only registry entry pinned against a from-scratch Python BPE
reference in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_tables import load_table, parallelize_if_underpartitioned
from ..functions.checkpoint import cut_lineage

QUERIES: dict = {}

#: merges learned by the registered query (bounded for grading; the
#: operator takes any count).
N_MERGES = 8
#: words longer than this are dropped from the dict (fold-cost bound;
#: real tokenizers do the same to cap pathological tokens).
MAX_WORD_CHARS = 20


def _word_stream(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(*extra_cols, word): THE tokenization contract (lowercase,
    whitespace split, 1..MAX_WORD_CHARS) — shared by the trainer and
    the encoder so the merges always apply to the same token stream.
    Rebalanced before the word fan-out when the scan under-splits
    (streaming frames and well-split lakes pass through untouched).
    When the caller keeps no extra columns the gate still keys on
    doc_id IF the frame has one, so the exchange is a hash
    distribution a downstream per-key agg could reuse; an external
    docs frame WITHOUT doc_id falls back to keyless round-robin
    (parallelizes the map, satisfies no ClusteredDistribution) rather
    than raising an AnalysisException only on under-split inputs —
    the r10 ADVICE's intermittent, environment-dependent failure."""
    gate_keys = extra_cols or (
        ("doc_id",) if "doc_id" in docs.columns else ()
    )
    return parallelize_if_underpartitioned(docs, *gate_keys).select(
        *extra_cols,
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
    ).filter(
        (F.length("word") > 0) & (F.length("word") <= MAX_WORD_CHARS)
    )


def word_counts(docs: DataFrame) -> DataFrame:
    """corpus -> (t: array<string> of chars, cnt) word-frequency table."""
    words = _word_stream(docs)
    return words.groupBy("word").agg(F.count("*").alias("cnt")).select(
        F.split("word", "").alias("t"), "cnt"
    )


def _pair_counts(wc: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-pair frequencies weighted by word count."""
    zipped = F.arrays_zip(
        F.expr("slice(t, 1, size(t) - 1)"),
        F.expr("slice(t, 2, size(t) - 1)"),
    )
    return (
        wc.filter(F.size("t") >= 2)
        .select("cnt", F.explode(zipped).alias("p"))
        .groupBy(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .agg(F.sum("cnt").alias("n"))
    )


#: Catalyst fold applying one merge (__l, __r) -> __l || __r over a
#: token array: leftmost, non-overlapping (a just-merged token is never
#: the left side of another merge in the same pass).
_MERGE_FOLD = """aggregate(
  t, cast(array() as array<string>),
  (acc, x) -> if(
    size(acc) > 0 AND element_at(acc, -1) = __l AND x = __r,
    concat(slice(acc, 1, size(acc) - 1), array(concat(__l, __r))),
    concat(acc, array(x))))"""


def merge_once(wc: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one learned merge to the word table (map-only)."""
    return wc.withColumn("__l", F.lit(left)).withColumn(
        "__r", F.lit(right)
    ).select(F.expr(_MERGE_FOLD).alias("t"), "cnt")


def learn_bpe_merges(
    spark: SparkSession, docs: DataFrame, n_merges: int = N_MERGES
) -> DataFrame:
    """Learn the top-``n_merges`` BPE merge table.  Returns a frame
    (rank, left, right, merged, pair_count) — vocabulary-scale by
    nature (the distributed work is the per-iteration pair count over
    the word table)."""
    wc = word_counts(docs).persist()
    wc.count()  # materialize once; iterations reuse the cache
    merges = []
    try:
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(wc)
                .orderBy(F.desc("n"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
            merges.append((rank, a, b, a + b, n))
            nxt = merge_once(wc, a, b).persist()
            nxt.count()
            wc.unpersist()
            wc = nxt
    finally:
        wc.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string,"
        " merged string, pair_count long"
    )


#: The FROZEN production tokenizer: merge ranks learned ONCE from the
#: sf0.01 corpus snapshot via ``learn_bpe_merges(n_merges=10)`` and
#: frozen here, the way real pipelines ship a fixed tokenizer — the
#: encode pass must be deterministic across corpus versions (packing,
#: budgets and dedup stats all key off its token counts).
FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
]


def encode_word_tokens(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word) -> (word, t: array<string>): the merge list applied in
    rank order — one chained Catalyst fold per merge, map-only."""
    toks = words.select("word", F.split("word", "").alias("t"))
    for left, right in merges:
        toks = toks.withColumn("__l", F.lit(left)).withColumn(
            "__r", F.lit(right)
        ).select("word", F.expr(_MERGE_FOLD).alias("t"))
    return toks


def make_bpe_encode_kernel(merges: list[tuple[str, str]]):
    """Arrow ``mapInPandas`` kernel applying a merge list of ANY size
    to each word (plain-value closure — ships without the package).

    Algorithm: repeatedly find the lowest-rank pair present at or above
    a monotone rank floor and apply ONE complete leftmost
    non-overlapping pass of it, then raise the floor to that rank.
    This is exactly the fold chain's semantics for any merge list:
    a complete leftmost pass leaves no (l, r) adjacency behind (a
    merged token equals neither l nor r — both are non-empty proper
    substrings), so a skipped rank is a provable identity pass, and
    ranks are applied in the same increasing order.  Pinned bit-equal
    to the fold chain on FROZEN_MERGES in tests/test_bpe_bounded.py.
    """
    merge_list = [tuple(m) for m in merges]

    def encode_batch(batches):
        from bisect import bisect_left

        import pandas as pd

        # a pair may appear at SEVERAL ranks (degenerate but legal —
        # the fold chain re-applies it, and a multi-char pair CAN
        # reappear after intermediate merges); keep every rank and
        # select the smallest one at-or-above the monotone floor
        pair_ranks: dict[tuple[str, str], list[int]] = {}
        for r, m in enumerate(merge_list):
            pair_ranks.setdefault(m, []).append(r)

        def enc(word: str) -> list[str]:
            toks: list[str] = list(word)
            floor = 0
            while len(toks) > 1:
                best = None
                for i in range(len(toks) - 1):
                    ranks = pair_ranks.get((toks[i], toks[i + 1]))
                    if ranks is None:
                        continue
                    j = bisect_left(ranks, floor)
                    if j == len(ranks):
                        continue
                    r = ranks[j]
                    if best is None or r < best:
                        best = r
                if best is None:
                    break
                left, right = merge_list[best]
                lr = left + right
                out: list[str] = []
                for x in toks:
                    if out and out[-1] == left and x == right:
                        out[-1] = lr
                    else:
                        out.append(x)
                toks = out
                floor = best
            return toks

        for pdf in batches:
            yield pd.DataFrame(
                {"word": pdf["word"], "t": [enc(w) for w in pdf["word"]]}
            )

    return encode_batch


def encode_word_tokens_bounded(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Same contract as :func:`encode_word_tokens`, BOUNDED plan (r8
    verdict task 3): one Arrow ``mapInPandas`` stage regardless of
    merge count.  The fold chain compiles one chained projection per
    merge — plan depth linear in merges, fine at the frozen 10 but a
    real 32k-merge production vocabulary won't compile; this variant's
    plan is constant-size and its runtime is linear in merges × words
    (measured flat-compile/linear-encode over a synthetic 50k-word
    vocabulary: BASELINE.md, "Round-9 bounded-BPE growth").  Still
    vocabulary-scale: callers feed the DISTINCT-word table and join
    back, so no repeated word is ever encoded twice."""
    return words.select("word").mapInPandas(
        make_bpe_encode_kernel(merges), schema="word string, t array<string>"
    )


def encode_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    bounded: bool = False,
) -> DataFrame:
    """Apply a learned merge list to the corpus: per document, word /
    BPE-token / tokenized-char counts.

    Scale shape: the fold chain runs ONCE per DISTINCT word
    (vocabulary-scale memoization — the per-occurrence cost collapses
    to a join lookup), and the join back to the word stream is
    unhinted so AQE broadcasts the vocabulary side while it fits.  At
    100 TB the corpus-scale work is one distinct + one broadcast-join
    + one keyed agg; no fold ever touches a repeated word twice.

    ``bounded=True`` swaps the fold chain for the constant-plan Arrow
    kernel (:func:`encode_word_tokens_bounded`) — the path for real
    (thousands-of-merges) vocabularies; identical results by the
    pinned equivalence."""
    words = _word_stream(docs, "doc_id")
    vocab = words.select("word").distinct()
    encoder = encode_word_tokens_bounded if bounded else encode_word_tokens
    enc = encoder(vocab, merges).select(
        "word", F.size("t").cast("bigint").alias("n_toks")
    )
    return words.join(enc, "word").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n_toks").cast("bigint").alias("n_bpe_tokens"),
        F.sum(F.length("word")).cast("bigint").alias("n_chars_tokenized"),
    )


def bpe_packing(
    docs: DataFrame, merges: list[tuple[str, str]] | None = None
) -> DataFrame:
    """``corpus_doc_packing`` on REAL tokenizer counts: greedy
    contiguous packing (same shard/order/pack rule as
    operators/corpus.doc_packing) driven by the frozen-BPE token count
    instead of the whitespace proxy — the sequence-length budget a
    trainer actually sees.  Docs whose every word is filtered (empty /
    over-length) pack with 0 tokens rather than vanishing."""
    from pyspark.sql import Window

    from .corpus import PACK_SHARDS, PACK_TARGET_TOKENS

    counts = encode_token_counts(docs, merges or FROZEN_MERGES)
    sharded = docs.select(
        "doc_id", (F.col("doc_id") % PACK_SHARDS).alias("shard")
    ).join(counts.select("doc_id", "n_bpe_tokens"), "doc_id", "left").select(
        "doc_id",
        "shard",
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / PACK_TARGET_TOKENS
        ).cast("bigint"),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ------------------------------------------------------------- oracles
#
# DuckDB has no fold over arrays, but the leftmost non-overlapping
# merge pass IS closed-form: candidate positions (t[i]=a, t[i+1]=b)
# form gaps-and-islands runs (consecutive candidates only occur when
# a=b), and the greedy pass takes the even offsets of each island.
# One merge = explode positions -> island ids -> parity -> re-collect;
# the chain below splices one such block per frozen merge.

def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def _bpe_word_ctes(
    merges: list[tuple[str, str]], src: str = "documents"
) -> tuple[str, str]:
    """CTE chain (w0 distinct words -> t<k> token lists) applying the
    merge list to corpus relation ``src`` (doc_id, text); returns
    (ctes_sql, final_cte_name)."""
    parts = [f"""w0 AS (
  SELECT DISTINCT word AS w
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM {src})
  WHERE length(word) BETWEEN 1 AND {MAX_WORD_CHARS}
), t0 AS (
  SELECT w, string_split(w, '') AS t FROM w0
)"""]
    for k, (a, b) in enumerate(merges, 1):
        qa, qb = _sql_quote(a), _sql_quote(b)
        parts.append(f"""e{k} AS (
  SELECT w, i, t[i] AS tok,
         CASE WHEN i < len(t) AND t[i] = '{qa}' AND t[i+1] = '{qb}'
              THEN 1 ELSE 0 END AS cand
  FROM t{k - 1}, unnest(generate_series(1, len(t))) u(i)
), i{k} AS (
  SELECT w, i, tok, cand,
         CASE WHEN cand = 1 THEN i - row_number()
              OVER (PARTITION BY w, cand ORDER BY i) END AS isl
  FROM e{k}
), s{k} AS (
  SELECT w, i, tok,
         CASE WHEN cand = 1
              AND (i - min(i) OVER (PARTITION BY w, isl)) % 2 = 0
              THEN 1 ELSE 0 END AS taken
  FROM i{k}
), p{k} AS (
  SELECT w, i, tok, taken,
         lag(taken, 1, 0) OVER (PARTITION BY w ORDER BY i) AS ptaken
  FROM s{k}
), t{k} AS (
  SELECT w,
         list(CASE WHEN taken = 1 THEN '{qa}{qb}' ELSE tok END ORDER BY i)
           FILTER (WHERE ptaken = 0) AS t
  FROM p{k} GROUP BY w
)""")
    return ",\n".join(parts), f"t{len(merges)}"


def _bpe_encode_oracle(merges: list[tuple[str, str]]) -> str:
    ctes, last = _bpe_word_ctes(merges)
    return f"""WITH {ctes}, enc AS (
  SELECT w, CAST(len(t) AS BIGINT) AS n_toks FROM {last}
), stream AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents)
  WHERE length(word) BETWEEN 1 AND {MAX_WORD_CHARS}
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(e.n_toks) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(length(s.word)) AS BIGINT) AS n_chars_tokenized
FROM stream s JOIN enc e ON s.word = e.w
GROUP BY s.doc_id"""


def _bpe_packing_oracle(
    merges: list[tuple[str, str]], src: str = "documents"
) -> str:
    from .corpus import PACK_SHARDS, PACK_TARGET_TOKENS

    ctes, last = _bpe_word_ctes(merges, src)
    return f"""WITH {ctes}, enc AS (
  SELECT w, CAST(len(t) AS BIGINT) AS n_toks FROM {last}
), stream AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM {src})
  WHERE length(word) BETWEEN 1 AND {MAX_WORD_CHARS}
), counts AS (
  SELECT doc_id, sum(e.n_toks) AS n_bpe_tokens
  FROM stream s JOIN enc e ON s.word = e.w
  GROUP BY doc_id
), sharded AS (
  SELECT d.doc_id, d.doc_id % {PACK_SHARDS} AS shard,
         CAST(coalesce(c.n_bpe_tokens, 0) AS BIGINT) AS n_tokens
  FROM {src} d LEFT JOIN counts c USING (doc_id)
), p AS (
  SELECT shard, n_tokens,
         CAST(floor(COALESCE(sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PACK_TARGET_TOKENS}) AS BIGINT) AS pack_id
  FROM sharded
)
SELECT shard, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM p GROUP BY 1, 2"""


def clean_tokenize_pack(docs: DataFrame) -> DataFrame:
    """The production tail of an LLM-data pipeline: exact-substring
    span removal (Lee et al. 2022) -> frozen-BPE tokenize -> greedy
    contiguous packing.

    The cleaned corpus is lazily checkpointed between cleaning and
    packing: the packing stages consume it more than once and Catalyst
    re-executes the whole span-removal chain per consumer (7 executed
    corpus scans, round-12 audit — the earlier docstring's "Catalyst
    fuses the stages" claim measured FALSE).  Materializing the
    cleaned corpus is also what a production pipeline does anyway —
    it IS the deliverable between the two phases.  Interleaved
    full-cost A/B at sf0.1: 2.92 -> 2.59 s median-of-5,
    hash-identical.  Executor-loss caveat: see
    events_association_rules (relational.py)."""
    from .text import dup_span_removal

    cleaned = (
        dup_span_removal(docs)
        .select("doc_id", F.col("text_clean").alias("text"))
        .transform(cut_lineage)
    )
    return bpe_packing(cleaned)


def _clean_tokenize_pack_oracle() -> str:
    from .text import ORACLE_DUP_SPAN_REMOVAL

    span_ctes = ORACLE_DUP_SPAN_REMOVAL[
        len("WITH ") : ORACLE_DUP_SPAN_REMOVAL.index("\nSELECT d.doc_id")
    ]
    cleaned = """cleaned AS (
  SELECT d.doc_id, coalesce(k.text_clean, '') AS text
  FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
)"""
    return _bpe_packing_oracle(FROZEN_MERGES, "cleaned").replace(
        "WITH ", f"WITH {span_ctes}, {cleaned}, ", 1
    )


def q_vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return learn_bpe_merges(spark, load_table(spark, sf_dir, "documents"))


def q_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode/apply pass between ``vocab_bpe_merges`` and packing:
    tokenize the corpus with the FROZEN merge list and emit per-doc
    word / BPE-token / char counts (the numbers every budget, packing
    and dedup-stat stage downstream consumes)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return encode_token_counts(
        load_table(spark, sf_dir, "documents"), FROZEN_MERGES
    )


def q_corpus_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing on frozen-BPE token counts — the
    whitespace-proxy packer (``corpus_doc_packing``) upgraded to the
    tokenizer the trainer actually uses."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return bpe_packing(load_table(spark, sf_dir, "documents"))


# Iterative argmax: no SQL twin -> rows-only driver check; exactness is
# pinned against a from-scratch Python BPE in tests/test_bpe.py.
QUERIES["vocab_bpe_merges"] = (q_vocab_bpe_merges, None)
# The encode pass is closed-form given the frozen merges (leftmost
# non-overlapping == gaps-and-islands parity in SQL), so unlike the
# induction it hash-checks end-to-end.
QUERIES["corpus_bpe_encode"] = (
    q_corpus_bpe_encode,
    _bpe_encode_oracle(FROZEN_MERGES),
)


def q_corpus_bpe_encode_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Physical-path twin of ``corpus_bpe_encode`` through the
    constant-plan Arrow encode kernel — same gaps-and-islands oracle
    (registered in PYTEST_ONLY_QUERIES: the parity suite grades it
    without spending a driver window slot on a duplicate strategy)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return encode_token_counts(
        load_table(spark, sf_dir, "documents"), FROZEN_MERGES, bounded=True
    )


#: production-vocabulary merge count for the registered 32k encode.
MERGES_32K = 32_000


def merges_32k() -> list[tuple[str, str]]:
    """The FROZEN_MERGES head padded to a 32,000-entry merge table —
    the closure size a real tokenizer ships (BASELINE.md's bounded-BPE
    growth table measured the kernel flat from 10 to 32k entries; this
    registers that production shape as an every-session query, round-9
    verdict task 7).

    The pad entries provably never fire on ANY corpus: each pad left
    token ("①<i>") is multi-character, initial tokens are single
    characters, and no merge in the table (frozen or pad) OUTPUTS a pad
    left token — so no token stream can ever contain one.  The encode
    result is therefore exactly the frozen-10 encode, which is what
    lets the 32k entry carry the SAME exact hash oracle while paying
    the full 32k-entry closure/rank-table cost end-to-end."""
    pad = [(f"①{i}", f"②{i}") for i in range(MERGES_32K)]
    return (FROZEN_MERGES + pad)[:MERGES_32K]


def q_corpus_bpe_encode_32k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``corpus_bpe_encode`` at a production 32,000-entry merge table
    through the bounded Arrow kernel (the fold chain cannot compile at
    this count — BASELINE.md growth rows)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return encode_token_counts(
        load_table(spark, sf_dir, "documents"), merges_32k(), bounded=True
    )


QUERIES["corpus_bpe_encode_32k"] = (
    q_corpus_bpe_encode_32k,
    _bpe_encode_oracle(FROZEN_MERGES),
)
QUERIES["corpus_bpe_packing"] = (
    q_corpus_bpe_packing,
    _bpe_packing_oracle(FROZEN_MERGES),
)


def q_corpus_clean_tokenize_pack(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return clean_tokenize_pack(load_table(spark, sf_dir, "documents"))


QUERIES["corpus_clean_tokenize_pack"] = (
    q_corpus_clean_tokenize_pack,
    _clean_tokenize_pack_oracle(),
)
