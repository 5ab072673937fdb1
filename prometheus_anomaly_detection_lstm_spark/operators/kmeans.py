"""Distributed k-means over embedding columns + SemDeDup semantic dedup.

The reference repo has no clustering surface; these are the
training-data-pipeline operators a 100 TB corpus needs: k-means is the
coarse quantizer behind IVF indexes and the partitioner behind
SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster the
corpus, then prune near-duplicates WITHIN each cluster so the pairwise
stage never goes n^2 over the full corpus).

Design for scale
----------------
- **Assignment is map-only.** Centroids are k x d doubles — metadata
  scale even at k=100k — so they ride the plan as literal arrays
  (plan-side broadcast); each vector computes its k distances inside
  whole-stage codegen via ``zip_with`` + ``aggregate`` folds.  No
  shuffle, no UDF, no driver loop over rows.
- **Recomputation is one hash aggregate.** posexplode(vec) ->
  (cluster, pos, val) -> groupBy(cluster, pos).avg: partial (map-side)
  aggregation reduces shuffle volume to #partitions x k x d regardless
  of corpus size.  The k x d result is collected driver-side (same
  metadata-scale collect as the PCA fit in operators/linalg.py).
- **Determinism / oracle parity.** Init centroids are the k lowest
  vec_id vectors; recomputed centroids are ROUNDED to 6 decimals on
  both engines, so iteration-2 distances start from bit-identical
  values; every distance/dot fold is a sequential left fold replicated
  exactly in the DuckDB oracle (list_reduce over list_zip), making the
  argmin tie-break (lowest cluster id on equal distance) stable
  cross-engine.
- **SemDeDup cluster-size note.** The within-cluster pair join keys on
  the cluster id, so parallelism equals k and the per-task cost is
  bounded by the largest cluster.  In production k grows with the
  corpus (SemDeDup uses n/avg_cluster_size clusters, e.g. 50k for
  LAION-440M) and oversized clusters are re-split before pairing; the
  registered query uses k=8 on the 500-row test corpus which keeps the
  same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .similarity import _emb, with_norm

K_CLUSTERS = 8
KMEANS_ITERS = 2  # assignment rounds; centroids recomputed in between
EMB_DIM = 64
SEMDEDUP_TAU = 0.35  # cosine threshold calibrated to the test corpus


def _vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vec ARRAY<DOUBLE>) — shared distributed producer."""
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )


def _dist2(vec_col, centroid: list[float]):
    """Squared Euclidean distance to a literal centroid as a sequential
    left fold (same op order as the oracle's list_reduce)."""
    return F.aggregate(
        F.zip_with(vec_col, F.lit(centroid), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    df: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Append (cluster, sq_dist): nearest centroid by squared distance,
    ties broken by lowest cluster id (first index of the minimum).

    ``centroids`` must be sorted by cluster id; they become plan
    literals, so assignment is a pure map stage in codegen.
    """
    dists = F.array(*[_dist2(F.col("vec"), c) for _, c in centroids])
    cids = F.array(*[F.lit(cid) for cid, _ in centroids])
    idx = F.array_position(dists, F.array_min(dists))
    return df.withColumn(
        "cluster", F.element_at(cids, idx.cast("int")).cast("bigint")
    ).withColumn("sq_dist", F.array_min(dists))


def _recompute_centroids(
    assigned: DataFrame,
) -> list[tuple[int, list[float]]]:
    """Per-cluster per-dimension mean, rounded to 6 decimals (the
    cross-engine determinism anchor).  One hash aggregate with map-side
    combine; k x d rows collected driver-side (metadata scale)."""
    rows = (
        assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["c"]
    return [
        (cid, [dims[p] for p in sorted(dims)])
        for cid, dims in sorted(by_cluster.items())
    ]


def init_centroids(df: DataFrame, k: int = K_CLUSTERS) -> list[tuple[int, list[float]]]:
    """Deterministic init: the k lowest-vec_id vectors, cluster id =
    their rank.  A k-row collect."""
    rows = (
        df.filter(F.col("vec_id") < k).select("vec_id", "vec").collect()
    )
    return [(int(r["vec_id"]), list(r["vec"])) for r in sorted(rows, key=lambda r: r["vec_id"])]


def kmeans_assign(
    df: DataFrame, k: int = K_CLUSTERS, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Lloyd's algorithm, ``iters`` assignment rounds: assign ->
    recompute (rounded) -> ... -> final assignment.  Returns
    (vec_id, cluster, sq_dist)."""
    cents = init_centroids(df, k)
    assigned = assign_clusters(df, cents)
    for _ in range(iters - 1):
        cents = _recompute_centroids(assigned)
        assigned = assign_clusters(df, cents)
    return assigned.select("vec_id", "cluster", "sq_dist")


def semantic_dedup(
    df: DataFrame, k: int = K_CLUSTERS, tau: float = SEMDEDUP_TAU
) -> DataFrame:
    """SemDeDup: one assignment to the fixed init centroids partitions
    the corpus; cosine pairs are computed WITHIN clusters only; any
    vector with a lower-id neighbor at rounded cosine >= tau is a
    duplicate.  Output (vec_id, n_similar, keep_candidate, max_cos):
    one row per pruned vector, keep_candidate = its lowest-id similar
    neighbor.

    The dot/norm folds are sequential left folds, replicated exactly in
    the oracle; the threshold compares the 6-decimal ROUNDED cosine so
    the cut is bit-stable cross-engine.
    """
    normed = with_norm(df.select("vec_id", F.col("vec").alias("embedding")))
    cents = init_centroids(df, k)
    member = assign_clusters(normed, cents).select(
        "vec_id", "vec", "norm", "cluster"
    )
    a = member.select(
        F.col("vec_id").alias("i"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
        "cluster",
    )
    b = member.select(
        F.col("vec_id").alias("j"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
        "cluster",
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("i") < F.col("j"))
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= tau)
    )
    return pairs.groupBy(F.col("j").alias("vec_id")).agg(
        F.count("*").alias("n_similar"),
        F.min("i").alias("keep_candidate"),
        F.max("cos").alias("max_cos"),
    )


# ------------------------------------------------------------- registry

def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = kmeans_assign(_vec(spark, sf_dir))
    return out.select(
        "vec_id", "cluster", F.round("sq_dist", 6).alias("sq_dist")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return semantic_dedup(_vec(spark, sf_dir))


def semantic_dedup_scaled(
    df: DataFrame, tau: float = SEMDEDUP_TAU
) -> DataFrame:
    """SemDeDup with CORPUS-SCALED cluster count k = ceil(sqrt(n)) —
    the production form of :func:`semantic_dedup`.

    The fixed-k form's caveat (BASELINE.md): with k frozen at 8, the
    average cluster size grows linearly with the corpus, so the
    within-cluster pair join is quadratic in n (measured ~5x cost at
    10x data).  k = ceil(sqrt(n)) balances the two stages — assignment
    scans n x k = n^1.5 centroid distances, clusters average sqrt(n)
    members so the pair join is n x sqrt(n) = n^1.5 — the standard
    one-shot flat-clustering exponent; past that, assignment itself
    routes through a coarse/fine hierarchy (the IVF machinery).

    Because k is data-dependent (hundreds at sf1), centroids are a
    BROADCAST TABLE joined distributively — not the fixed-k form's
    literal-centroid codegen, which would compile k expressions into
    one projection.  Distance/dot folds are the same sequential left
    folds as the oracle's list_reduce, so the cut is bit-stable.

    Round-13 narrow-projection checkpoint: the two self-join sides are
    two CONSUMERS of the assignment frame — Catalyst ran the n×k
    distance fold (the n^1.5 stage) once PER side.  r12 measured the
    full member checkpoint a +19% loss (materialized bytes ≈ table
    bytes: the embedding arrays).  This lands the narrow form instead:
    checkpoint only (vec_id, norm, cluster) and re-attach ``vec`` per
    side by joining the raw scan — the assignment fold computes once;
    what each side re-pays is a plain scan+join, not n×k×dim FLOPs.
    sf1 interleaved full-cost medians (two samples): 7.191→6.600 s and
    11.267→10.415 s; sf0.1 pays 2.6→3.7 s — the documented small-scale
    cost of the at-scale shape (OPTIMIZATION_r13.md §4).  Hash-equal at
    both scales.  Executor-loss caveat: see events_association_rules
    (relational.py).
    """
    import math

    from ..functions.checkpoint import cut_lineage

    n = df.count()
    k = int(math.ceil(math.sqrt(n)))
    normed = with_norm(df.select("vec_id", F.col("vec").alias("embedding")))
    cents = df.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"), F.col("vec").alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with("vec", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "cluster")
    member_narrow = (
        normed.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("__rk", F.row_number().over(w_assign))
        .filter(F.col("__rk") == 1)
        .select("vec_id", "norm", "cluster")
        .transform(cut_lineage)
    )
    raw = df.select("vec_id", "vec")
    a = member_narrow.join(raw, "vec_id").select(
        F.col("vec_id").alias("i"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
        "cluster",
    )
    b = member_narrow.join(raw, "vec_id").select(
        F.col("vec_id").alias("j"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
        "cluster",
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("i") < F.col("j"))
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= tau)
    )
    return pairs.groupBy(F.col("j").alias("vec_id")).agg(
        F.count("*").alias("n_similar"),
        F.min("i").alias("keep_candidate"),
        F.max("cos").alias("max_cos"),
    )


def q_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return semantic_dedup_scaled(_vec(spark, sf_dir))


_FOLD_D2 = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) ^ 2), (acc, x) -> acc + x)"
)

ORACLE_KMEANS = f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), init AS (
  SELECT vec_id AS cluster, vec FROM v WHERE vec_id < {K_CLUSTERS}
), d1 AS (
  SELECT v.vec_id, i.cluster,
         {_FOLD_D2.format(a='v.vec', b='i.vec')} AS d2
  FROM v CROSS JOIN init i
), a1 AS (
  SELECT vec_id, cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1
), m1 AS (
  SELECT a1.cluster, g.pos, round(avg(v.vec[g.pos]), 6) AS c
  FROM a1 JOIN v USING (vec_id), generate_series(1, {EMB_DIM}) g(pos)
  GROUP BY 1, 2
), c1 AS (
  SELECT cluster, list(c ORDER BY pos) AS vec FROM m1 GROUP BY 1
), d2s AS (
  SELECT v.vec_id, c1.cluster,
         {_FOLD_D2.format(a='v.vec', b='c1.vec')} AS d2
  FROM v CROSS JOIN c1
)
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, round(d2, 6) AS sq_dist
FROM d2s
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1"""


ORACLE_SEMANTIC_DEDUP = f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec,
         sqrt(list_reduce(list_transform(vec, x -> x * x),
              (acc, x) -> acc + x)) AS nrm
  FROM v
), init AS (
  SELECT vec_id AS cluster, vec FROM v WHERE vec_id < {K_CLUSTERS}
), d1 AS (
  SELECT v.vec_id, i.cluster,
         {_FOLD_D2.format(a='v.vec', b='i.vec')} AS d2
  FROM v CROSS JOIN init i
), a1 AS (
  SELECT vec_id, cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1
), m AS (
  SELECT n.vec_id, n.vec, n.nrm, a1.cluster FROM n JOIN a1 USING (vec_id)
), p AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         round(list_reduce(list_transform(list_zip(a.vec, b.vec),
                 p -> p[1] * p[2]), (acc, x) -> acc + x)
               / (a.nrm * b.nrm), 6) AS cos
  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT j AS vec_id,
       CAST(count(*) AS BIGINT) AS n_similar,
       min(i) AS keep_candidate,
       max(cos) AS max_cos
FROM p WHERE cos >= {SEMDEDUP_TAU}
GROUP BY 1"""


#: identical pair/rollup logic to ORACLE_SEMANTIC_DEDUP, but the init
#: centroid count is ceil(sqrt(n)) computed FROM the data in both
#: engines — the scaled-k production config.
ORACLE_SEMANTIC_DEDUP_SCALED = f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), n AS (
  SELECT vec_id, vec,
         sqrt(list_reduce(list_transform(vec, x -> x * x),
              (acc, x) -> acc + x)) AS nrm
  FROM v
), init AS (
  SELECT vec_id AS cluster, vec FROM v
  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM v)
), d1 AS (
  SELECT v.vec_id, i.cluster,
         {_FOLD_D2.format(a='v.vec', b='i.vec')} AS d2
  FROM v CROSS JOIN init i
), a1 AS (
  SELECT vec_id, cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) = 1
), m AS (
  SELECT n.vec_id, n.vec, n.nrm, a1.cluster FROM n JOIN a1 USING (vec_id)
), p AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         round(list_reduce(list_transform(list_zip(a.vec, b.vec),
                 p -> p[1] * p[2]), (acc, x) -> acc + x)
               / (a.nrm * b.nrm), 6) AS cos
  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT j AS vec_id,
       CAST(count(*) AS BIGINT) AS n_similar,
       min(i) AS keep_candidate,
       max(cos) AS max_cos
FROM p WHERE cos >= {SEMDEDUP_TAU}
GROUP BY 1"""


QUERIES = {
    "embedding_kmeans": (q_embedding_kmeans, ORACLE_KMEANS),
    "semantic_dedup": (q_semantic_dedup, ORACLE_SEMANTIC_DEDUP),
    "semantic_dedup_scaled": (
        q_semantic_dedup_scaled,
        ORACLE_SEMANTIC_DEDUP_SCALED,
    ),
}


# --------------------------------------------------- product quantization

PQ_M = 8  # subspaces
PQ_DSUB = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 4  # codewords per subspace


def pq_codes(
    df: DataFrame, m: int = PQ_M, k: int = PQ_K
) -> DataFrame:
    """Product-quantization codes: split each d-dim vector into ``m``
    subvectors and replace each with the id of its nearest codeword —
    the compression behind IVF-PQ, the ANN layout that actually holds
    at 100 TB (memory per vector drops from d*4 bytes to m bytes; ADC
    distance scans read codes, not floats).

    Codebooks here are the ``k`` lowest-vec_id vectors' subvector
    slices (deterministic, oracle-replicable); production would refine
    them with per-subspace Lloyd iterations — :func:`kmeans_assign`
    shows that loop, it composes the same way per subspace.  Assignment
    is map-only codegen: m x k literal-codeword distance folds per
    vector, argmin per subspace, no shuffle at all.

    Output: (vec_id, code_0..code_{m-1}, recon_err) where recon_err is
    the total squared quantization error — the quality metric a PQ
    tuning loop watches.
    """
    dsub = EMB_DIM // m
    cb_rows = sorted(
        df.filter(F.col("vec_id") < k).select("vec_id", "vec").collect(),
        key=lambda r: r["vec_id"],
    )
    out_cols = ["vec_id"]
    err_total = None
    sel = df.select("vec_id", "vec")
    for mi in range(m):
        sub = F.slice("vec", mi * dsub + 1, dsub)
        cw = [
            (int(r["vec_id"]), list(r["vec"])[mi * dsub: (mi + 1) * dsub])
            for r in cb_rows
        ]
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(sub, F.lit(c), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for _, c in cw
            ]
        )
        cids = F.array(*[F.lit(cid) for cid, _ in cw])
        idx = F.array_position(dists, F.array_min(dists))
        sel = sel.withColumn(
            f"code_{mi}",
            F.element_at(cids, idx.cast("int")).cast("bigint"),
        ).withColumn(f"__err_{mi}", F.array_min(dists))
        out_cols.append(f"code_{mi}")
        err_total = (
            F.col(f"__err_{mi}")
            if err_total is None
            else err_total + F.col(f"__err_{mi}")
        )
    return sel.select(
        *out_cols, F.round(err_total, 6).alias("recon_err")
    )


def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return pq_codes(_vec(spark, sf_dir))


def _pq_oracle() -> str:
    code_cols = ",\n       ".join(
        f"CAST(max(CASE WHEN m = {mi} THEN code END) AS BIGINT) AS code_{mi}"
        for mi in range(PQ_M)
    )
    return f"""WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), sub AS (
  SELECT v.vec_id, g.m,
         list_slice(v.vec, g.m * {PQ_DSUB} + 1, g.m * {PQ_DSUB} + {PQ_DSUB})
           AS sv
  FROM v, generate_series(0, {PQ_M - 1}) g(m)
), cb AS (
  SELECT vec_id AS code, m, sv FROM sub WHERE vec_id < {PQ_K}
), d AS (
  SELECT s.vec_id, s.m, c.code,
         {_FOLD_D2.format(a='s.sv', b='c.sv')} AS d2
  FROM sub s JOIN cb c USING (m)
), a AS (
  SELECT vec_id, m, code, d2 FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1
)
SELECT vec_id,
       {code_cols},
       round(sum(d2), 6) AS recon_err
FROM a GROUP BY vec_id"""


QUERIES["embedding_pq_codes"] = (q_embedding_pq_codes, _pq_oracle())


# ------------------------------------------------------- PQ-ADC search

PQ_SEARCH_M = 16  # subspaces for the search path (finer than the codes op)
PQ_SEARCH_K = 16  # codewords per subspace
PQ_TRAIN_ITERS = 3  # per-subspace Lloyd refinements
PQ_RERANK = 20  # shortlist factor for the exact rerank stage
# (was 5: recall@10 measured 0.72 at sf0.1 — below the 0.8 floor the
# bench now asserts in-run; 20 measures 0.92 there and the shortlist is
# still only k*20 rows/query into the exact rerank, corpus-independent)


def _unit(df: DataFrame) -> DataFrame:
    """(vec_id, uvec): L2-normalized vectors (dot == cosine)."""
    return df.select(
        "vec_id",
        F.transform(
            "vec",
            lambda x: x
            / F.sqrt(
                F.aggregate(
                    F.transform(F.col("vec"), lambda y: y * y),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                )
            ),
        ).alias("uvec"),
    )


def make_pq_assign_fn(codebooks: list[list[list[float]]], dsub: int):
    """Arrow-batched PQ assignment kernel (plain-value closure — ships
    without the package).  Why a kernel and not Catalyst folds: m x
    kcode literal-lambda distance expressions (256 at the search
    config) cost tens of seconds of ANALYSIS/codegen per plan — the
    same finding as the LSH signature stage (ROUND4.md), and the same
    fix: one vectorized matmul-shaped kernel per Arrow batch."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        CB = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
        for pdf in batches:
            if not len(pdf):
                continue
            U = np.asarray(pdf["uvec"].tolist(), dtype=np.float64)
            codes = np.zeros((len(pdf), len(CB)), dtype=np.int32)
            for mi, C in enumerate(CB):
                sub = U[:, mi * dsub: (mi + 1) * dsub]
                d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                codes[:, mi] = d.argmin(axis=1)  # first-min, same tie rule
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "uvec": pdf["uvec"],
                    "codes": list(codes),
                }
            )

    return assign


def _assign_pq_codes(
    unit: DataFrame, codebooks: list[list[list[float]]], dsub: int
) -> DataFrame:
    """(vec_id, uvec, codes array<int>): nearest-codeword POSITION
    (0-based) per subspace via the Arrow kernel."""
    return unit.mapInPandas(
        make_pq_assign_fn(codebooks, dsub),
        schema="vec_id long, uvec array<double>, codes array<int>",
    )


def train_pq_codebooks(
    unit: DataFrame,
    m: int = PQ_SEARCH_M,
    kcode: int = PQ_SEARCH_K,
    iters: int = PQ_TRAIN_ITERS,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd training, all subspaces in ONE aggregate per
    iteration: posexplode(uvec) tags every element with its (subspace,
    current code, position), and groupBy(mi, code, sp).avg recomputes
    every codeword mean in a single map-combined shuffle whose volume
    is bounded by partitions x m x kcode x dsub — corpus-size
    independent, collected driver-side (metadata scale).  Empty
    codewords keep their previous value."""
    dsub = EMB_DIM // m
    cb_rows = sorted(
        unit.filter(F.col("vec_id") < kcode).collect(),
        key=lambda r: r["vec_id"],
    )
    codebooks = [
        [list(r["uvec"])[mi * dsub: (mi + 1) * dsub] for r in cb_rows]
        for mi in range(m)
    ]
    for _ in range(iters):
        coded = _assign_pq_codes(unit, codebooks, dsub)
        ex = coded.select(
            "codes", F.posexplode("uvec").alias("pos", "val")
        )
        mi_col = (F.col("pos") / dsub).cast("int")  # pos is 0-based
        rows = (
            ex.select(
                mi_col.alias("mi"),
                F.element_at("codes", mi_col + 1).alias("code"),
                (F.col("pos") % dsub).alias("sp"),
                "val",
            )
            .groupBy("mi", "code", "sp")
            .agg(F.avg("val").alias("c"))
            .collect()
        )
        new = [[list(cw) for cw in cb] for cb in codebooks]
        for r in rows:
            new[r["mi"]][r["code"]][r["sp"]] = r["c"]
        codebooks = new
    return codebooks


def pq_topk(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    m: int = PQ_SEARCH_M,
    kcode: int = PQ_SEARCH_K,
    train_iters: int = PQ_TRAIN_ITERS,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Approximate cosine top-k via trained PQ + asymmetric distance
    computation (ADC) + exact rerank — the two-stage retrieval shape
    that holds at 100 TB: the shortlist scan reads m SMALL CODES per
    vector (not d floats), each query's m x kcode distance lookup
    table rides the plan as literal arrays (sum-of-lookups in
    whole-stage codegen, one pass scores ALL queries), and only the
    k*rerank shortlist pays an exact-dot rerank.

    Measured on the test corpus: recall@10 0.28 untrained/unreranked ->
    ~0.85 with 3 Lloyd iterations and a 5x shortlist (floor pinned in
    tests).  Approximate by design — rows-only for the driver, like
    the LSH/IVF variants.
    """
    unit = _unit(df)
    dsub = EMB_DIM // m
    codebooks = train_pq_codebooks(unit, m, kcode, train_iters)
    coded = _assign_pq_codes(unit, codebooks, dsub)
    return _pq_query(coded, codebooks, m, dsub, unit, n_queries, k, rerank)


def _pq_query(
    coded: DataFrame,
    codebooks: list[list[list[float]]],
    m: int,
    dsub: int,
    vec_source: DataFrame,
    n_queries: int,
    k: int,
    rerank: int,
) -> DataFrame:
    """ADC scoring + exact rerank over an assigned-codes frame — the
    query stage shared by the inline (:func:`pq_topk`) and persisted
    (:func:`pq_topk_prebuilt`) paths.  ``vec_source`` supplies the
    query-vector collect and the exact-rerank floats: the inline path
    passes the unit frame, the prebuilt path the persisted codes frame
    (whose uvec column carries the identical values)."""
    q_rows = sorted(
        vec_source.filter(F.col("vec_id") < n_queries).collect(),
        key=lambda r: r["vec_id"],
    )
    q_vecs = [list(r["uvec"]) for r in q_rows]
    # One fold per query over a FLATTENED (mi-major) LUT literal instead
    # of m chained element_at terms: 10x fewer expressions to analyze /
    # codegen (measured ~2 s of per-plan ANALYSIS at the search config —
    # the dominant cost of the prebuilt query path).  The fold adds LUT
    # entries in ascending-mi order with a +0.0 seed, bit-identical to
    # the old t0+t1+... chain (every entry is a sum of squares >= +0.0).
    kcode = len(codebooks[0])

    def _adc_fold(lut):
        return lambda acc, mi: acc + F.element_at(
            lut, mi * kcode + F.get("codes", mi) + 1
        )

    approx_cols = []
    for qv in q_vecs:
        flat: list[float] = []
        for mi in range(m):
            qs = qv[mi * dsub: (mi + 1) * dsub]
            flat.extend(
                sum((a - b) * (a - b) for a, b in zip(qs, cw))
                for cw in codebooks[mi]
            )
        approx_cols.append(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                _adc_fold(F.lit(flat)),
            )
        )
    scored = coded.select(
        F.col("vec_id").alias("c_id"),
        F.posexplode(F.array(*approx_cols)).alias("q_pos", "approx_d"),
    ).select(
        F.col("q_pos").cast("bigint").alias("q_id"),  # posexplode: 0-based
        "c_id",
        "approx_d",
    ).filter(F.col("q_id") != F.col("c_id"))
    w_adc = Window.partitionBy("q_id").orderBy(
        F.col("approx_d").asc(), F.col("c_id").asc()
    )
    shortlist = (
        scored.withColumn("srk", F.row_number().over(w_adc))
        .filter(F.col("srk") <= k * rerank)
        .select("q_id", "c_id")
    )
    # exact rerank: only the shortlist joins back to the float vectors
    dots = F.array(
        *[
            F.aggregate(
                F.zip_with("uvec", F.lit(qv), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for qv in q_vecs
        ]
    )
    exact = (
        vec_source.join(
            F.broadcast(shortlist),
            vec_source["vec_id"] == shortlist["c_id"],
        )
        .withColumn(
            "cosine", F.element_at(dots, F.col("q_id").cast("int") + 1)
        )
        .select("q_id", "c_id", "cosine")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id").asc()
    )
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


def q_ann_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return pq_topk(_vec(spark, sf_dir))


#: Bump whenever build_pq_index's layout or the trainer changes —
#: part of the recipe stamp gating /tmp index reuse (r10 ADVICE).
PQ_INDEX_VERSION = 1


def pq_build_recipe(
    m: int = PQ_SEARCH_M,
    kcode: int = PQ_SEARCH_K,
    train_iters: int = PQ_TRAIN_ITERS,
) -> dict:
    """Reuse-gating identity of a persisted PQ index: the build config
    + build-code version, so a constant or trainer change invalidates
    cached indexes instead of silently grading stale codes."""
    return {
        "kind": "pq",
        "version": PQ_INDEX_VERSION,
        "m": m,
        "kcode": kcode,
        "train_iters": train_iters,
    }


def build_pq_index(
    emb: DataFrame,
    path: str,
    m: int = PQ_SEARCH_M,
    kcode: int = PQ_SEARCH_K,
    train_iters: int = PQ_TRAIN_ITERS,
) -> None:
    """Build and persist the PQ index — the deployment shape a 100 TB
    corpus actually runs (round-9 verdict task 3, mirroring the IVF
    split at similarity.build_ivf_index): ``path/codebooks`` is the
    tiny trained (mi, code, cw) table and ``path/codes`` the
    corpus-scale (vec_id, uvec, codes) frame.  A query session then
    pays ONLY the ADC lookup scan — no Lloyd training, no assignment
    kernel — and parquet column pruning means the ADC stage reads
    m int codes per vector, touching the d-float uvec column only for
    the k*rerank shortlist rows."""
    unit = _unit(emb)
    dsub = EMB_DIM // m
    codebooks = train_pq_codebooks(unit, m, kcode, train_iters)
    spark = emb.sparkSession
    cb_rows = [
        (mi, code, cw)
        for mi, cb in enumerate(codebooks)
        for code, cw in enumerate(cb)
    ]
    spark.createDataFrame(
        cb_rows, "mi int, code int, cw array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    _assign_pq_codes(unit, codebooks, dsub).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")


def load_pq_index(
    spark: SparkSession, path: str
) -> tuple[list[list[list[float]]], DataFrame]:
    """(codebooks, codes) as written by :func:`build_pq_index`."""
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["mi"] for r in cb_rows) + 1
    kcode = max(r["code"] for r in cb_rows) + 1
    codebooks: list[list[list[float]]] = [
        [None] * kcode for _ in range(m)
    ]
    for r in cb_rows:
        codebooks[r["mi"]][r["code"]] = list(r["cw"])
    return codebooks, spark.read.parquet(f"{path}/codes")


def pq_topk_prebuilt(
    spark: SparkSession,
    path: str,
    n_queries: int = 10,
    k: int = 10,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """Query a persisted PQ index (:func:`build_pq_index`): identical
    results to the inline :func:`pq_topk` for the same parameters,
    without re-training codebooks or re-assigning codes."""
    codebooks, coded = load_pq_index(spark, path)
    m = len(codebooks)
    dsub = EMB_DIM // m
    return _pq_query(
        coded,
        codebooks,
        m,
        dsub,
        coded.select("vec_id", "uvec"),
        n_queries,
        k,
        rerank,
    )


def _pq_topk_oracle(
    m: int = PQ_SEARCH_M,
    kcode: int = PQ_SEARCH_K,
    iters: int = PQ_TRAIN_ITERS,
    n_queries: int = 10,
    k: int = 10,
    rerank: int = PQ_RERANK,
) -> str:
    """Generated DuckDB twin of :func:`pq_topk` (r8 verdict task 2:
    approximate-but-DETERMINISTIC, so hash-checkable).  Replicates the
    whole pipeline: unit-normalize, per-subspace codebooks seeded from
    the first ``kcode`` vec_ids, ``iters`` Lloyd refinements (argmin
    ties -> lowest code, empty codewords keep their previous value via
    LEFT JOIN + coalesce), ADC scoring against per-query LUTs, the
    k*rerank shortlist, exact rerank.

    Cross-engine float evidence (tools/ann_oracle_margins.py +
    tests/test_ann_oracles.py): DuckDB's sequential list folds are
    bit-identical to Spark's ``F.aggregate`` folds and to numpy's
    small-axis sums (dsub=4 < the pairwise threshold), so the ONLY
    noise source is the codebook-mean aggregation order — and the
    minimum argmin/shortlist/top-k margin is >= 7.6e-8 across
    sf0.001/0.01/0.1, ~1e5 times the worst-case mean noise."""
    dsub = EMB_DIM // m
    d2 = _FOLD_D2.format(a="s.sv", b="c.cw")

    def assign(name: str, cb: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, mi, code FROM (
    SELECT s.vec_id, s.mi, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.mi
                ORDER BY {d2} ASC, c.code ASC) AS rk
    FROM sub s JOIN {cb} c ON c.mi = s.mi
  ) WHERE rk = 1
)"""

    def means(name: str, assigned: str, prev: str) -> str:
        return f"""{name} AS (
  SELECT p.mi, p.code, coalesce(n.cw, p.cw) AS cw
  FROM {prev} p LEFT JOIN (
    SELECT mi, code, list(mval ORDER BY sp) AS cw
    FROM (
      SELECT a.mi, a.code, g.sp, avg(s.sv[g.sp]) AS mval
      FROM {assigned} a
      JOIN sub s ON s.vec_id = a.vec_id AND s.mi = a.mi,
           generate_series(1, {dsub}) g(sp)
      GROUP BY a.mi, a.code, g.sp
    ) GROUP BY mi, code
  ) n ON n.mi = p.mi AND n.code = p.code
)"""

    steps = [
        f"""v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
)""",
        """nrm AS (
  SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS n FROM v
)""",
        """u AS (
  SELECT vec_id, list_transform(vec, x -> x / n) AS uvec FROM nrm
)""",
        f"""sub AS (
  SELECT vec_id, g.mi,
         list_slice(uvec, g.mi * {dsub} + 1, g.mi * {dsub} + {dsub}) AS sv
  FROM u, generate_series(0, {m - 1}) g(mi)
)""",
        f"""cb0 AS (
  SELECT mi,
         CAST(row_number() OVER (PARTITION BY mi ORDER BY vec_id) - 1
              AS INT) AS code,
         sv AS cw
  FROM sub WHERE vec_id < {kcode}
)""",
    ]
    for it in range(1, iters + 1):
        steps.append(assign(f"a{it}", f"cb{it - 1}"))
        steps.append(means(f"cb{it}", f"a{it}", f"cb{it - 1}"))
    steps.append(assign("af", f"cb{iters}"))
    steps.append(
        f"""qmap AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS q_id
  FROM u WHERE vec_id < {n_queries}
)"""
    )
    steps.append(
        f"""lut AS (
  SELECT qm.q_id, c.mi, c.code, {d2} AS d
  FROM qmap qm
  JOIN sub s ON s.vec_id = qm.vec_id
  JOIN cb{iters} c ON c.mi = s.mi
)"""
    )
    # NB: the Spark side filters candidate vec_id != q POSITION (q_pos
    # from posexplode), not != q vec_id — mirror that exactly
    steps.append(
        """adc AS (
  SELECT l.q_id, a.vec_id AS c_id, sum(l.d) AS approx_d
  FROM af a JOIN lut l ON l.mi = a.mi AND l.code = a.code
  WHERE a.vec_id != l.q_id
  GROUP BY l.q_id, a.vec_id
)"""
    )
    steps.append(
        f"""shortlist AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
                ORDER BY approx_d ASC, c_id ASC) AS srk
    FROM adc
  ) WHERE srk <= {k * rerank}
)"""
    )
    steps.append(
        """exact AS (
  SELECT sl.q_id, sl.c_id,
         list_reduce(list_transform(list_zip(cu.uvec, qu.uvec),
             p -> p[1] * p[2]), (acc, x) -> acc + x) AS cosine
  FROM shortlist sl
  JOIN u cu ON cu.vec_id = sl.c_id
  JOIN qmap qm ON qm.q_id = sl.q_id
  JOIN u qu ON qu.vec_id = qm.vec_id
)"""
    )
    body = ",\n".join(steps)
    return f"""WITH {body}
SELECT q_id, c_id, round(cosine, 6) AS cosine, rk FROM (
  SELECT q_id, c_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, c_id ASC) AS BIGINT) AS rk
  FROM exact
) WHERE rk <= {k}"""


# approximate vs brute force but deterministic end to end: hash oracle
# since round 9 (recall floor still pinned in tests/test_kmeans.py and
# asserted in-run by bench.py, same policy as ann_cosine_topk_lsh/_ivf)
QUERIES["ann_cosine_topk_pq"] = (q_ann_cosine_topk_pq, _pq_topk_oracle())


# ------------------------------------------- nearest-centroid probe

def nearest_centroid_eval(df: DataFrame) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of the embedding corpus
    against its OWN label centroids, reported as a confusion matrix —
    the cheapest label-quality / cluster-separability probe a training
    pipeline runs before spending on a learned head.

    Reuses the k-means machinery verbatim: per-label centroids are one
    posexplode hash aggregate (label x d rows, rounded 6 — the
    cross-engine determinism anchor), assignment is literal-centroid
    codegen (pure map stage), and the confusion rollup is one keyed
    aggregate over label-pair space.  ``df`` must carry (vec_id, label,
    vec ARRAY<DOUBLE>)."""
    labeled = df.withColumn("cluster", F.col("label").cast("bigint"))
    cents = _recompute_centroids(labeled)
    assigned = assign_clusters(df, cents)
    return (
        assigned.groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("cluster").cast("int").alias("pred_label"),
        )
        .agg(F.count("*").alias("n"))
    )


def q_nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    df = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    return nearest_centroid_eval(df)


ORACLE_NEAREST_CENTROID = f"""WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
), m AS (
  SELECT label AS cl, g.pos, round(avg(vec[g.pos]), 6) AS c
  FROM v, generate_series(1, {EMB_DIM}) g(pos)
  GROUP BY 1, 2
), c AS (
  SELECT cl, list(c ORDER BY pos) AS vec FROM m GROUP BY 1
), d AS (
  SELECT v.vec_id, v.label, c.cl,
         {_FOLD_D2.format(a='v.vec', b='c.vec')} AS d2
  FROM v CROSS JOIN c
)
, pred AS (
  SELECT vec_id, label, cl FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1
)
SELECT CAST(label AS INTEGER) AS true_label,
       CAST(cl AS INTEGER) AS pred_label,
       count(*) AS n
FROM pred GROUP BY 1, 2"""

QUERIES["embedding_nearest_centroid_eval"] = (
    q_nearest_centroid_eval,
    ORACLE_NEAREST_CENTROID,
)
