"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced end-to-end with a noop write (full computation,
no driver-side collect overhead).  Query plans are constructed once
and re-executed per pass (prepared-statement behavior — repeated
submissions of the same query reuse the analyzed plan); each timed
pass fully re-runs physical planning, AQE, and every scan/shuffle.

The three pipeline-derived queries share ONE materialization of the
preprocess/score frames ("pipeline_prep" + "anomaly_mse" persist their
results; "minmax_scaled" / "threshold_split" consume the cache) — the
production shape: a 100-TB pipeline scores once and feeds many
consumers, it does not re-derive the pivot->fill->scale->window chain
per downstream query.  The prep/materialization cost is its own timed
entry so the total stays end-to-end honest.

Every row outside that basket is timed by :func:`measure`: build,
one untimed write, then N labelled noop writes with the DuckDB oracle
interleaved where the row has one.  A row whose construction registers
a checkpoint is rebuilt and timed full-cost on every pass, its
checkpoints released after each; any other row re-executes its one
built frame.

Round-10 protocol: every anchored ratio on the artifact is IN-RUN —
one DuckDB pass of each comparable-query oracle interleaved after each
Spark pass (and oracle passes interleaved inside the sf1 sections), so
the denominator is same-process/same-minute instead of a cross-session
archive on a ±2-3× noisy VM.  The ANN deployment split (IVF/PQ
prebuilt-index query times, recipe-stamped /tmp indexes) and the
perplexity full-cost record also ride every default sf0.1 run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.functions.checkpoint import (
    release_checkpoints,
    track_checkpoints,
)
from prometheus_anomaly_detection_lstm_spark.io_tables import (
    ensure_replica,
    load_table,
)
from prometheus_anomaly_detection_lstm_spark.operators import score as SC
from prometheus_anomaly_detection_lstm_spark.plans import pipeline as P
from prometheus_anomaly_detection_lstm_spark.registry import all_queries
from prometheus_anomaly_detection_lstm_spark.session import get_spark

#: non-pipeline headline queries, timed straight from the registry
STANDALONE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "windowed_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # the production ANN path (LSH_RECALL08 config) benched beside the
    # deliberately-naive brute-force baseline; its recall@10 >= 0.8
    # floor is asserted in this same run (after timing) so the speed
    # number can never silently ride a degraded-recall config.
    "ann_cosine_topk_lsh",
    "text_quality_scores",
    # q3 through the orderkey-bucketed lake layout (the measured -39%
    # sf1 remedy): the one-time bucketing write happens at plan-
    # construction time and is reported separately as
    # tpch_q3_bucketed_write_sec — the timed entry is the recurring
    # query cost over the pre-bucketed layout.
    "tpch_q3_bucketed",
]

#: Basket subtotals so the official record is self-comparable across
#: rounds (round-5 verdict task 2): the headline "value" grows every
#: time a query is ADDED to the bench, which reads as a regression when
#: it is basket growth.  basket12 = the round-3 basket; basket13 adds
#: ann_cosine_topk_lsh (round 4); comparable11 = the queries BASELINE.md
#: prices on DuckDB (basket12 minus pipeline_prep, which DuckDB-side is
#: a temp-table build inside its own timing).  NOTE: the basket's
#: ann_cosine_topk_lsh is BUILD-INCLUDED (it signs the whole corpus
#: every pass); the deployment steady state is ann_lsh_prebuilt_query_sec
#: from _ann_prebuilt_section, and the same split is oracle-graded by the
#: ann_cosine_topk_{lsh,ivf,pq}_prebuilt parity twins (registry.py).
BASKET12 = [
    "pipeline_prep", "anomaly_mse", "minmax_scaled", "threshold_split",
    "tpch_q1", "tpch_q3", "tpch_q5", "windowed_events", "dedup_exact",
    "dedup_minhash_lsh", "ann_cosine_topk", "text_quality_scores",
]
BASKET13 = BASKET12 + ["ann_cosine_topk_lsh"]
COMPARABLE11 = [q for q in BASKET12 if q != "pipeline_prep"]

#: tables DuckDB registers for the in-run anchors (round-9 verdict
#: task 1: the official ratios were cross-session — anchors measured on
#: other days of a VM with documented ±2-3× noise — so BENCH_r09
#: recorded an sf1 minhash at 2.6× an anchor that three same-tree runs
#: measured at 1.45-1.69×.  Timing the oracle SQL in the SAME process,
#: interleaved with the Spark passes, makes every official ratio
#: same-minute, same-box evidence and VM noise self-documenting.)
DUCK_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck_connect(sf_dir: str):
    """DuckDB connection with the sf tables as views (directory
    parquet — Spark-written artifacts like the sf1 set — via glob)."""
    import duckdb

    con = duckdb.connect()
    for t in DUCK_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _duck_pass(con, oracle_sqls: dict[str, str]) -> dict[str, float]:
    """One timed pass of every anchor oracle on ``con`` (results
    fetched and discarded — the DuckDB twin of the noop sink)."""
    out: dict[str, float] = {}
    for name, sql in oracle_sqls.items():
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def _median(vals: list[float]) -> float:
    """The middle pass, ``sorted(x)[n // 2]`` (the upper middle of an
    even count)."""
    return sorted(vals)[len(vals) // 2]


def _labelled_write(spark, name: str, build) -> float:
    """Seconds to run ``build()`` and force its frame with a noop write.

    The jobs carry the description ``bench:<name>`` (guide §1.5: the
    UI and event log map back to queries).  It is set before the timer
    and cleared in ``finally``, so a raising write never leaves a
    stale label on later jobs."""
    sc = spark.sparkContext
    sc.setJobDescription(f"bench:{name}")
    try:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        sc.setJobDescription(None)


class Measured(dict):
    """:func:`measure`'s keys.  ``frames`` maps each row to the frame
    its passes re-executed, or to None for a full-cost row."""

    frames: dict


def measure(
    spark,
    builds: dict,
    passes: int,
    pick=_median,
    con=None,
    sql: str | None = None,
    duck_passes: int | None = None,
) -> Measured:
    """Time each row of ``builds`` (name -> zero-argument frame
    builder) over ``passes`` noop writes, round-robin across rows.

    Each row is built once inside ``track_checkpoints()`` and written
    once untimed.  Full cost is derived, not configured: a row whose
    construction registered a checkpoint is rebuilt on every pass with
    the construction inside the timed region (re-executing one built
    frame would time only the tail after a lazy checkpoint), and that
    pass's checkpoints are released after it.  Any other row
    re-executes its one built frame.

    With ``sql``, one DuckDB pass of it on ``con`` (after an untimed
    warm pass) follows a round of Spark passes, ``duck_passes`` of
    them spread evenly (default: after every round).  The keys are
    ``<name>`` (``pick`` of the passes: ``min`` or the median) and
    ``<name>_passes``, plus ``<name>_duck_sec``,
    ``<name>_duck_passes`` and ``<name>_inrun_ratio`` for the oracle
    of a one-row call."""
    frames: dict = {}
    for name, build in builds.items():
        with track_checkpoints() as made:
            df = build()
        frames[name] = None if made else df
        _labelled_write(spark, name, lambda: df)  # warm, untimed
        release_checkpoints(made)
    n_duck = passes if duck_passes is None else duck_passes
    if sql is not None:
        con.execute(sql).fetchall()  # warm, untimed
    times: dict[str, list[float]] = {name: [] for name in builds}
    duck: list[float] = []
    for i in range(passes):
        for name, build in builds.items():
            if frames[name] is None:
                with track_checkpoints() as made:
                    times[name].append(_labelled_write(spark, name, build))
                release_checkpoints(made)
            else:
                times[name].append(
                    _labelled_write(spark, name, lambda: frames[name])
                )
        if sql is not None and i % (passes // n_duck) == 0 and len(duck) < n_duck:
            duck.append(_duck_pass(con, {"oracle": sql})["oracle"])
    out = Measured()
    out.frames = frames
    for name, vals in times.items():
        out[name] = pick(vals)
        out[f"{name}_passes"] = vals
    if duck:
        (name,) = builds
        out[f"{name}_duck_sec"] = pick(duck)
        out[f"{name}_duck_passes"] = duck
        out[f"{name}_inrun_ratio"] = round(
            out[name] / max(out[f"{name}_duck_sec"], 1e-9), 3
        )
    return out


def _drop_bucketed_layout(spark, sf_dir: str, n_buckets: int = 8) -> None:
    """Drop the q3 bucketed external tables AND their backing paths so
    a timed (re)construction always measures the true one-time cost."""
    import shutil
    import tempfile

    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/"))
    tag = f"{tag}_b{n_buckets}"
    for tbl in (f"q3b_lineitem_{tag}", f"q3b_orders_{tag}"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(
        os.path.join(
            tempfile.gettempdir(), "prometheus_anomaly_detection_lstm_spark_bucketed", tag
        ),
        ignore_errors=True,
    )


def _executed_shuffle_mb(df) -> float:
    """Execute the DataFrame's OWN physical-plan instance once and sum
    shuffleBytesWritten across its exchanges (AQE stages included) —
    the in-process twin of tools/shuffle_audit.py's event-log number."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    total = 0

    def walk(node):
        nonlocal total
        cls = node.getClass().getSimpleName()
        if "ShuffleExchange" in cls:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleBytesWritten":
                    total += kv._2().value()
        if "QueryStage" in cls:
            walk(node.plan())
        if cls.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return round(total / 1e6, 3)


#: sf1 crossover pair (round-6 verdict task 6): the 62 MB -> 0 shuffle
#: story measured by tools/shuffle_audit.py lives on the official bench
#: record as one plain-vs-bucketed q3 pass at sf1.  Every sf1 table is
#: built once under /tmp through io_tables.ensure_replica (fact tables
#: as io_tables.replicate's 10 distinct-key copies of the sf0.1 table,
#: dimensions copied as-is, each recipe-stamped); generation cost is
#: reported when it happens.
SF1_DIR = "/tmp/crossover/sf1"
SF1_BASE = "/root/testdata/sf0.1"
SF1_COPIES = 10


def _ensure_sf1(spark, name: str) -> dict:
    """Create (or verify and reuse) the recipe-stamped
    ``SF1_DIR/<name>.parquet`` through ``io_tables.ensure_replica``
    (e.g. ``documents``: 10 doc_id-offset copies, copy k > 0 with a
    " copyvariant{k}" text suffix; ``events``: 10 event_id-offset
    copies shifted k*30 days, tiling a contiguous ~300-day series);
    returns the ``sf1_<name>_gen_sec`` / ``sf1_<name>_rows``
    bookkeeping keys."""
    got = ensure_replica(spark, SF1_BASE, SF1_DIR, name, SF1_COPIES)
    return {f"sf1_{k}": v for k, v in got.items()}


def _sf1_measure(spark, queries, name: str, query: str, passes: int, **kw):
    """:func:`measure` of registry ``query`` on the sf1 artifact as row
    ``name``, its DuckDB oracle timed in-run on the same parquet."""
    fn, sql = queries[query]
    return measure(
        spark,
        {name: lambda: fn(spark, SF1_DIR)},
        passes,
        con=_duck_connect(SF1_DIR),
        sql=sql,
        **kw,
    )


def _sf1_q3_pair(spark, queries) -> dict:
    out: dict = {}
    for name in ("lineitem", "orders", "customer"):
        out.update(_ensure_sf1(spark, name))

    from prometheus_anomaly_detection_lstm_spark.plans.relational import (
        q_tpch_q3_bucketed,
    )

    # buckets sized to the 10x facts (one bucket ~ one task's rows —
    # the same sizing rule a 100-TB lake applies); the one-time layout
    # write is the ingest-time cost, reported separately as always.
    _drop_bucketed_layout(spark, SF1_DIR, n_buckets=32)
    t0 = time.perf_counter()
    bucketed = q_tpch_q3_bucketed(spark, SF1_DIR, n_buckets=32)
    out["sf1_tpch_q3_bucketed_write_sec"] = round(
        time.perf_counter() - t0, 3
    )
    # per-side BEST of 7 round-robin warm passes (the same per-query
    # best-of statistic as the main basket: this box's hypervisor
    # stalls are bimodal — ~0.3 s true runs interleaved with 2-3.5 s
    # stall passes — so a median can land ON a stall; all raw passes
    # ride along), plus the measured shuffle volume of each plan — the
    # crossover stated in bytes on the official record.
    pair = measure(
        spark,
        {
            "sf1_tpch_q3": lambda: queries["tpch_q3"][0](spark, SF1_DIR),
            "sf1_tpch_q3_bucketed": lambda: bucketed,
        },
        7,
        min,
    )
    out.update(pair)
    out["sf1_tpch_q3_shuffle_mb"] = _executed_shuffle_mb(
        pair.frames["sf1_tpch_q3"]
    )
    out["sf1_tpch_q3_bucketed_shuffle_mb"] = _executed_shuffle_mb(bucketed)
    return out


def _sf1_anomaly(spark, queries) -> dict:
    """sf1 point for THE flagship (round-10 verdict task 3):
    anomaly_mse — the full prep chain (dedup+pivot align, calendar,
    ffill/bfill, MinMax, stride-1 windows) plus the window MSE — at
    10x the grading scale with the oracle timed in-run on the same
    artifact.  The oracle SQL recomputes the same chain from the raw
    events table, so this ratio covers pipeline_prep implicitly.
    Median of 3 passes."""
    out = _ensure_sf1(spark, "events")
    got = _sf1_measure(spark, queries, "sf1_anomaly_mse", "anomaly_mse", 3)
    out.update(got)
    out["sf1_anomaly_mse_shuffle_mb"] = _executed_shuffle_mb(
        got.frames["sf1_anomaly_mse"]
    )
    return out


def _sf1_anomaly_waist(spark, queries) -> dict:
    """Production shape for the flagship at lake scale (round-11
    verdict task 3, measured): materialize the prep WAIST — the
    calendar'd, filled, MinMax-scaled wide frame — ONCE as a table,
    then score stride-1 windows FROM the table.  At 100 TB the
    recompute shape pays the pivot->fill->scale chain (a full lake
    read plus a global fill) on every scoring run; the waist table
    turns that into one parquet scan (day-partitioned in a real lake;
    16 plain files here).  Build cost is timed fresh each run (the q3
    bucketed-write precedent); the query side is median-of-3 passes
    with a DuckDB twin reading the SAME waist parquet interleaved
    in-run, so both engines score identical stored doubles.  A
    sum-of-row-hash guard asserts the from-waist result equals the
    inline ``anomaly_mse`` frame in the same run."""
    from prometheus_anomaly_detection_lstm_spark import oracles

    out: dict = _ensure_sf1(spark, "events")
    waist_path = f"{SF1_DIR}/anomaly_waist.parquet"

    t0 = time.perf_counter()
    (
        P.preprocessed(spark, SF1_DIR, keep_day=True)
        .select("ts", "__day", *P.FEATURES)
        .repartition(16)
        .write.mode("overwrite")
        .parquet(waist_path)
    )
    waist = spark.read.parquet(waist_path)
    # metadata-scale (one row per day): collected once so the three
    # bucketing summary subtrees read a local frame, not table rescans.
    # The collect is INSIDE the timed build (r12 verdict item 9 — it
    # previously ran between the timed build and the timed query, so
    # neither timed region carried this small scan).
    day_rows = (
        waist.groupBy("__day").agg(F.count("*").alias("__n")).collect()
    )
    out["sf1_anomaly_waist_build_sec"] = round(time.perf_counter() - t0, 3)

    day_counts = spark.createDataFrame(day_rows)
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW waist AS SELECT * FROM '{waist_path}/*.parquet'"
    )
    got = measure(
        spark,
        {
            "sf1_anomaly_mse_waist": lambda: SC.window_mse(
                waist,
                P.FEATURES,
                P.SEQUENCE_LENGTH,
                day_col="__day",
                day_counts=day_counts,
            ).select("window_id", "start_ts", F.round("mse", 8).alias("mse"))
        },
        3,
        con=con,
        sql=oracles.ORACLE_ANOMALY_MSE_FROM_WAIST,
    )
    del got["sf1_anomaly_mse_waist_duck_passes"]
    out.update(got)
    scored = got.frames["sf1_anomaly_mse_waist"]
    out["sf1_anomaly_mse_waist_shuffle_mb"] = _executed_shuffle_mb(scored)

    def _digest(df):
        r = df.agg(
            F.sum(
                F.hash("window_id", "start_ts", "mse").cast("bigint")
            ).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        return (r["h"], r["n"])

    inline = queries["anomaly_mse"][0](spark, SF1_DIR)
    out["sf1_anomaly_waist_match"] = int(_digest(scored) == _digest(inline))
    return out


def _sf1_minhash(spark, queries) -> dict:
    """sf1 point for the LLM-pipeline flagship (round-7 verdict task
    6): dedup_minhash_lsh wall + shuffle bytes at 10x the grading
    scale, on the official artifact rather than only in BASELINE.md.
    Documents are the recipe-stamped sf1 replica (10 doc_id-offset
    copies, text tagged per copy so replicas are near- not exact-dups).
    Reported as the median of 7 dedicated passes — the same statistic
    as the sf0.1 minhash entry — with raw passes alongside; the in-run
    oracle (the round-9 verdict's fix for the 2.6x-vs-1.45x
    cross-session artifact contradiction) runs after Spark passes
    1/3/5.
    """
    out = _ensure_sf1(spark, "documents")
    got = _sf1_measure(
        spark, queries, "sf1_dedup_minhash_lsh", "dedup_minhash_lsh", 7,
        duck_passes=3,
    )
    out.update(got)
    out["sf1_dedup_minhash_lsh_shuffle_mb"] = _executed_shuffle_mb(
        got.frames["sf1_dedup_minhash_lsh"]
    )
    return out


def _sf1_span_removal(spark, queries) -> dict:
    """sf1 point for the OTHER corpus-bytes-shuffle flagship (round-8
    verdict task 5): exact-substring span removal at 10x the grading
    scale, over the same copyvariant artifact (10 near-copies of every
    doc — the adversarial maximal-duplicate-mass case, since almost
    every 8-gram is cross-doc duplicated).  Median of 3 dedicated
    passes + executed shuffle bytes; the digest-key knob is A/B'd in
    the same run (md5 span keys quarter the shuffled bytes for
    network-shuffle deployments; locally the hash CPU outweighs the
    disk-shuffle savings — the A/B keeps that trade on the record at
    the scale where it matters).
    """
    from prometheus_anomaly_detection_lstm_spark.operators.text import (
        dup_span_removal,
    )

    out = _ensure_sf1(spark, "documents")
    got = _sf1_measure(
        spark, queries, "sf1_dup_span_removal", "corpus_dup_span_removal", 3
    )
    out.update(got)
    out["sf1_dup_span_removal_shuffle_mb"] = _executed_shuffle_mb(
        got.frames["sf1_dup_span_removal"]
    )

    name = "sf1_dup_span_removal_digest"
    dig = measure(
        spark,
        {
            name: lambda: dup_span_removal(
                load_table(spark, SF1_DIR, "documents"), digest_keys=True
            )
        },
        3,
    )
    out[name] = dig[name]
    out[f"{name}_shuffle_mb"] = _executed_shuffle_mb(dig.frames[name])
    return out


def _sf1_perplexity(spark, queries) -> dict:
    """sf1 point for the trigram-LM flagship: at 10x the grading scale
    the per-stage fixed overhead amortizes and the engine CROSSES the
    DuckDB oracle (round-9 measurement: Spark 5.43 s vs DuckDB 7.50 s
    median-of-3 = 0.72x; sf0.1 ratio was 2.4x).  Median of 3 passes;
    the query builds a doc-scale checkpoint, so :func:`measure` times
    it full-cost (construct + execute per pass) and the full corpus
    rollup stays in the timed cost."""
    out = _ensure_sf1(spark, "documents")
    out.update(
        _sf1_measure(
            spark, queries, "sf1_corpus_perplexity_filter",
            "corpus_perplexity_filter", 3,
        )
    )
    return out


def _sf1_langid(spark, queries) -> dict:
    """sf1 point for the round-10 lang-id rework: full-cost
    (construct+execute — the plan builds a lazy vocab-scale model
    checkpoint, so :func:`measure` keeps construction in the timed
    cost) AND the warm scoring steady state (re-execute one built
    plan: the trained model is reused, which is what a deployment that
    scores batches pays), with the oracle timed in-run on the same
    artifact.  Ratio-basis note (r10 ADVICE): the warm ratio divides
    warm Spark passes (model reused) by FULL DuckDB executions (model
    retrained every pass) — the key says so (`warm_vs_fullduck`); the
    like-for-like headline is `full_inrun_ratio` (full/full)."""
    out = _ensure_sf1(spark, "documents")
    full = _sf1_measure(
        spark, queries, "sf1_text_lang_id_full", "text_lang_id_ngram", 3
    )
    duck = full.pop("sf1_text_lang_id_full_duck_sec")
    del full["sf1_text_lang_id_full_duck_passes"]
    df = queries["text_lang_id_ngram"][0](spark, SF1_DIR)
    warm = measure(spark, {"sf1_text_lang_id_warm": lambda: df}, 3)
    out.update(full)
    out.update(warm)
    out["sf1_text_lang_id_duck_sec"] = duck
    out["sf1_text_lang_id_warm_vs_fullduck_ratio"] = round(
        warm["sf1_text_lang_id_warm"] / duck, 3
    )
    return out


def _topk_sets(df) -> dict:
    """q_id -> the set of its top-k c_ids."""
    out: dict = {}
    for r in df.select("q_id", "c_id").collect():
        out.setdefault(r["q_id"], set()).add(r["c_id"])
    return out


def _recall(exact: dict, approx_df) -> float:
    """Mean recall@k of ``approx_df`` against ``exact`` (_topk_sets of
    the brute-force top-k), rounded to 4 places."""
    approx = _topk_sets(approx_df)
    recalls = [
        len(cs & approx.get(q, set())) / len(cs) for q, cs in exact.items()
    ]
    return round(sum(recalls) / len(recalls), 4)


def _ann_prebuilt_section(spark, sf_dir: str) -> dict:
    """Official record for the ANN build-once/query-many deployment
    split (round-9 runway item 3): IVF and PQ prebuilt-index query
    times beside the build-included registry numbers.  Indexes live
    under /tmp recipe-stamped per sf_dir (build cost is reported in
    the run that pays it, like sf1_<table>_gen_sec); queries are the
    median of 5 through :func:`measure`."""
    import json
    import tempfile

    from prometheus_anomaly_detection_lstm_spark.operators.kmeans import (
        _vec,
        build_pq_index,
        pq_build_recipe,
        pq_topk_prebuilt,
    )
    from prometheus_anomaly_detection_lstm_spark.operators.similarity import (
        LSH_RECALL08,
        build_ivf_index,
        build_lsh_index,
        cosine_topk,
        cosine_topk_ivf_prebuilt,
        cosine_topk_lsh_prebuilt,
        ivf_build_recipe,
        lsh_build_recipe,
    )

    out: dict = {}
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), "prometheus_anomaly_detection_lstm_spark_annidx", tag)
    emb = load_table(spark, sf_dir, "embeddings")
    base = {"sf_dir": sf_dir.rstrip("/"), "rows": emb.count()}

    def ensure(name: str, build, build_recipe: dict) -> str:
        # reuse gate = data identity + BUILD identity (config constants
        # and a build-code version token) — r10 ADVICE: a {sf_dir, rows}
        # stamp silently reused stale indexes after a build change, and
        # the prebuilt bench rows carry no oracle to catch that.
        recipe = {**base, **build_recipe}
        path = os.path.join(root, name)
        stamp = os.path.join(path, "recipe.json")
        reusable = False
        if os.path.exists(stamp):
            try:
                with open(stamp) as fh:
                    reusable = json.load(fh) == recipe
            except (json.JSONDecodeError, OSError):
                reusable = False
        if not reusable:
            t0 = time.perf_counter()
            build(path)
            out[f"ann_{name}_build_sec"] = round(time.perf_counter() - t0, 3)
            with open(stamp, "w") as fh:
                json.dump(recipe, fh)
        return path

    ivf_path = ensure(
        "ivf",
        lambda p: build_ivf_index(emb, p),
        ivf_build_recipe(n_lists=8),
    )
    pq_path = ensure(
        "pq",
        lambda p: build_pq_index(_vec(spark, sf_dir), p),
        pq_build_recipe(),
    )
    lsh_path = ensure(
        "lsh",
        lambda p: build_lsh_index(
            emb, p, planes=LSH_RECALL08["planes"], tables=LSH_RECALL08["tables"]
        ),
        lsh_build_recipe(LSH_RECALL08["planes"], LSH_RECALL08["tables"]),
    )
    queried = {}
    for kind, build in (
        ("ivf", lambda: cosine_topk_ivf_prebuilt(spark, ivf_path)),
        ("pq", lambda: pq_topk_prebuilt(spark, pq_path)),
        (
            "lsh",
            lambda: cosine_topk_lsh_prebuilt(
                spark, lsh_path, probe_hamming=LSH_RECALL08["probe_hamming"]
            ),
        ),
    ):
        key = f"ann_{kind}_prebuilt_query_sec"
        got = measure(spark, {key: build}, 5)
        out.update(got)
        queried[kind] = got.frames[key]

    # recall floor asserted ON THE PREBUILT OUTPUTS in the same run
    # (r11 verdict task 4): the inline configs' recalls are asserted in
    # main(), but only a direct check on the index-backed results can
    # catch a stale/corrupt persisted index that the recipe stamp
    # somehow missed.
    exact = _topk_sets(cosine_topk(emb))
    prebuilt_recalls = {
        kind: _recall(exact, df) for kind, df in queried.items()
    }
    for kind, r in prebuilt_recalls.items():
        assert r >= 0.8, f"prebuilt {kind} recall floor broken: {r}"
    out["ann_prebuilt_recalls"] = prebuilt_recalls
    out["ann_prebuilt_min_recall"] = min(prebuilt_recalls.values())
    return out


def _perplexity_full_cost(spark, queries, sf_dir: str) -> dict:
    """Full-cost point for the trigram-LM flagship (round-8 verdict
    task 7): corpus_perplexity_filter builds a doc-scale
    localCheckpoint (LAZY since round 10 — the per-doc score table
    feeds both the tercile cuts and the final join and materializes on
    the first action), so the basket's construct-once/re-execute
    protocol would time only the checkpoint-downstream tail.
    :func:`measure` sees the checkpoint and times CONSTRUCTION +
    EXECUTION together, median of 5, so the recorded number carries
    the whole corpus-scale trigram rollup every pass."""
    fn = queries["corpus_perplexity_filter"][0]
    return measure(
        spark, {"corpus_perplexity_filter_full": lambda: fn(spark, sf_dir)}, 5
    )


#: optional keys copied into the compact trailing summary when present
#: (curated to fit the driver's 2000-byte tail capture — see the
#: comment above build_summary's call site in main()).
SUMMARY_OPTIONAL_KEYS = (
    "sf1_dedup_minhash_lsh",
    "sf1_dedup_minhash_lsh_inrun_ratio",
    "sf1_dup_span_removal",
    "sf1_dup_span_removal_inrun_ratio",
    "sf1_corpus_perplexity_filter",
    "sf1_corpus_perplexity_filter_inrun_ratio",
    "sf1_anomaly_mse",
    "sf1_anomaly_mse_inrun_ratio",
    "sf1_anomaly_error",
    "sf1_anomaly_waist_build_sec",
    "sf1_anomaly_mse_waist",
    "sf1_anomaly_mse_waist_inrun_ratio",
    "sf1_waist_vs_fullduck",
    "sf1_anomaly_waist_match",
    "sf1_anomaly_waist_error",
    "sf1_text_lang_id_full",
    "sf1_text_lang_id_warm",
    "sf1_text_lang_id_warm_vs_fullduck_ratio",
    "sf1_text_lang_id_full_inrun_ratio",
    "sf1_langid_error",
    "corpus_perplexity_filter_full",
    "ann_ivf_prebuilt_query_sec",
    "ann_pq_prebuilt_query_sec",
    "ann_lsh_prebuilt_query_sec",
    "ann_prebuilt_min_recall",
    "ann_prebuilt_error",
    "sf1_section_error",
    "sf1_minhash_error",
    "sf1_span_error",
    "sf1_perplexity_error",
    "perplexity_full_error",
)

#: serialized budget for the trailing summary copy: the driver's tail
#: capture is 2000 bytes (BENCH_r11's artifact was lost to it), so the
#: summary plus its key prefix and the closing brace must stay under
#: 1900 with ~100 B of margin for number-width wobble.  Pinned by
#: tests/test_bench_summary_budget.py against worst-case widths.
SUMMARY_BYTE_BUDGET = 1900


def build_summary(out: dict) -> dict:
    """The compact trailing copy of every headline stat (serialized as
    the LAST json key so the driver's 2000-byte tail capture keeps it).
    Exception strings are truncated to 60 chars in the copy only (the
    full message stays in the JSON body) — an unbounded error message
    must never push the summary over the tail budget."""
    summary = {
        "value": out["value"],
        "queries": out["queries"],
        "queries_duck": out["queries_duck"],
        "comparable11_total": out["comparable11_total"],
        "comparable11_duck_total": out["comparable11_duck_total"],
        "comparable11_inrun_ratio": out["comparable11_inrun_ratio"],
        "dedup_minhash_lsh_median7": out["queries"]["dedup_minhash_lsh"],
        "ann_recalls_lsh_ivf_pq": [
            out["ann_lsh_recall_at_10"],
            out["ann_ivf_recall_at_10"],
            out["ann_pq_recall_at_10"],
        ],
    }
    for k in SUMMARY_OPTIONAL_KEYS:
        if k in out:
            v = out[k]
            if k.endswith("_error") and isinstance(v, str):
                v = v[:60]
            summary[k] = v
    return summary


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    queries = all_queries()

    # warmup: JVM JIT + whole-stage-codegen compile + parquet footer
    # caches, not measured — run each measured plan SHAPE once at the
    # smallest sf (plus one relational query at the bench sf) so the
    # recorded numbers are data-processing time, not compiler time.
    warm_sf = "/root/testdata/sf0.001"
    for warm_name in [
        "anomaly_flags",
        "dedup_minhash_lsh",
        "dedup_exact",
        "ann_cosine_topk",
        "ann_cosine_topk_lsh",
        "text_quality_scores",
        "windowed_events",
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q3_bucketed",
    ]:
        queries[warm_name][0](spark, warm_sf).write.format("noop").mode(
            "overwrite"
        ).save()
    queries["tpch_q6"][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Warm the bench-sf INPUTS themselves (page cache + parquet footer
    # caches + reader codepaths at the real partition counts).  Without
    # this the first sf0.1 read pays the machine's cold-IO cost and the
    # recorded number stops being data-processing time (r2 verdict:
    # pipeline_prep 8.2 s cold vs 2.2 s warm).  ~17 MB total at sf0.1.
    for tbl in (
        "events",
        "lineitem",
        "orders",
        "customer",
        "supplier",
        "nation",
        "region",
        "documents",
        "embeddings",
    ):
        load_table(spark, sf_dir, tbl).write.format("noop").mode(
            "overwrite"
        ).save()

    # Plans are CONSTRUCTED once and re-executed per pass — standard
    # prepared-statement / plan-cache behavior for repeated submissions
    # of the same query.  Execution (physical planning, AQE, every
    # shuffle and scan) fully re-runs and is what each pass times;
    # driver-side expression building (~0.3-0.9 s/query of py4j
    # round-trips on this box) is a constant that does not scale with
    # data and is not data-processing time.
    prep = P.preprocessed(spark, sf_dir, keep_day=True)
    mse = SC.window_mse(prep, P.FEATURES, P.SEQUENCE_LENGTH, day_col="__day")
    mse_out = mse.select(
        "window_id", "start_ts", F.round("mse", 8).alias("mse")
    )
    minmax_out = prep.select(
        "ts", *[F.round(c, 6).alias(c) for c in P.FEATURES]
    )
    split_out = SC.threshold_split(mse, P.ANOMALY_THRESHOLD).select(
        "is_anomaly", "n", F.round("pct", 6).alias("pct")
    )
    standalone_dfs = {
        name: queries[name][0](spark, sf_dir)
        for name in STANDALONE
        if name != "tpch_q3_bucketed"
    }
    # the bucketed layout's one-time write cost, timed separately (it
    # is the ingest-time storage policy, not a per-query cost — but it
    # must be ON the record for the -39% read-side number to be honest).
    # Drop any pre-existing layout first (round-6 advice): on a warm
    # metastore the construction would otherwise reuse the old tables
    # and report a ~0 s "write cost" that is not the true layout cost.
    _drop_bucketed_layout(spark, sf_dir)
    t0 = time.perf_counter()
    standalone_dfs["tpch_q3_bucketed"] = queries["tpch_q3_bucketed"][0](
        spark, sf_dir
    )
    bucketed_write_sec = round(time.perf_counter() - t0, 3)

    def run_pass() -> dict[str, float]:
        timings: dict[str, float] = {}

        def bench(name: str, df) -> None:
            timings[name] = _labelled_write(spark, name, lambda: df)

        # -- shared pipeline: materialize once, consume three ways ----
        prep.persist()
        bench("pipeline_prep", prep)
        mse.persist()
        bench("anomaly_mse", mse_out)
        bench("minmax_scaled", minmax_out)
        bench("threshold_split", split_out)

        for name in STANDALONE:
            bench(name, standalone_dfs[name])

        mse.unpersist(blocking=True)
        prep.unpersist(blocking=True)
        return timings

    # Four full passes, per-query BEST-OF-FOUR as the headline:
    # pass 1 absorbs residual first-run costs (JIT of the sf-sized
    # codegen classes, AQE statistics, allocator growth), and
    # single-run noise on this virtualized box is large (identical
    # back-to-back queries vary ±2x under hypervisor neighbors) —
    # per-query min over full passes is the standard way to report the
    # engine's data-processing time.  All raw passes ride along so
    # cold/noisy behavior stays visible.
    # (was best-of-three through round 4; the round-4 verdict's task 3
    # notes identical code measured 6.5-8.9 s across boxes/days on this
    # VM's +-2x hypervisor noise, and sanctioned extra samples as the
    # remedy — one more FULL pass, all raw passes still recorded.)
    # In-run DuckDB anchors (round-9 verdict task 1): one DuckDB pass
    # of every comparable-query oracle INTERLEAVED after each Spark
    # pass, same process, same minute — so the official ratio has a
    # trustworthy denominator regardless of which noise patch of the
    # VM this run lands on.  Per-query best-of-4 on both sides (the
    # same statistic), all raw passes recorded.
    duck_con = _duck_connect(sf_dir)
    duck_oracles = {
        name: queries[name][1]
        for name in COMPARABLE11
        if queries[name][1] is not None
    }
    passes = []
    duck_passes = []
    for _ in range(4):
        passes.append(run_pass())
        duck_passes.append(_duck_pass(duck_con, duck_oracles))
    best = {k: min(p[k] for p in passes) for k in passes[0]}
    duck_best = {
        k: min(p[k] for p in duck_passes) for k in duck_passes[0]
    }

    # dedup_minhash_lsh is reported as the MEDIAN OF SEVEN dedicated
    # passes (round-6 verdict task 2 prescribed median of >=5): the
    # best-of-N figure on this box's +-2x hypervisor noise swung the
    # official record 0.680 -> 0.878 s between rounds on an unchanged
    # plan, and with 5 passes a single stall still drags the median
    # visibly.  The four full passes and all seven solo passes ride
    # along in the output.
    median7 = measure(
        spark,
        {"dedup_minhash_lsh_extra": lambda: standalone_dfs["dedup_minhash_lsh"]},
        7,
    )
    best["dedup_minhash_lsh"] = median7["dedup_minhash_lsh_extra"]

    # Recall floor for the timed approximate path (not timed itself):
    # the LSH config's speed only counts if recall@10 vs brute force
    # holds >= 0.8 on the same data.
    from prometheus_anomaly_detection_lstm_spark.operators.similarity import (
        LSH_RECALL08,
        cosine_topk,
        cosine_topk_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _topk_sets(cosine_topk(emb))
    lsh_recall = _recall(exact, cosine_topk_lsh(emb, **LSH_RECALL08))
    assert lsh_recall >= 0.8, f"LSH recall floor broken: {lsh_recall}"
    # IVF and PQ floors asserted IN-RUN like LSH (round-5 verdict task
    # 4): the registry configs themselves, not pytest-only floors.
    ivf_recall = _recall(exact, queries["ann_cosine_topk_ivf"][0](spark, sf_dir))
    assert ivf_recall >= 0.8, f"IVF recall floor broken: {ivf_recall}"
    pq_recall = _recall(exact, queries["ann_cosine_topk_pq"][0](spark, sf_dir))
    assert pq_recall >= 0.8, f"PQ recall floor broken: {pq_recall}"

    out = {
        "metric": "headline query wall time (noop write, local)",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "sf": float(sf),
        "basket12_total": round(sum(best[q] for q in BASKET12), 3),
        "basket13_total": round(sum(best[q] for q in BASKET13), 3),
        "comparable11_total": round(
            sum(best[q] for q in COMPARABLE11), 3
        ),
        "comparable11_duck_total": round(sum(duck_best.values()), 3),
        "comparable11_inrun_ratio": round(
            sum(best[q] for q in COMPARABLE11)
            / max(sum(duck_best.values()), 1e-9),
            3,
        ),
        "tpch_q3_bucketed_write_sec": bucketed_write_sec,
        "ann_lsh_recall_at_10": lsh_recall,
        "ann_ivf_recall_at_10": ivf_recall,
        "ann_pq_recall_at_10": pq_recall,
    }
    out["queries_duck"] = duck_best
    out["queries_inrun_ratio"] = {
        q: round(best[q] / max(duck_best[q], 1e-9), 2)
        for q in duck_best
    }
    for i, p in enumerate(passes, 1):
        out[f"value_pass{i}"] = round(sum(p.values()), 3)
        out[f"queries_pass{i}"] = p
        out[f"queries_duck_pass{i}"] = duck_passes[i - 1]
    out["dedup_minhash_lsh_extra_passes"] = median7[
        "dedup_minhash_lsh_extra_passes"
    ]
    out["dedup_minhash_lsh_reporting"] = (
        "median of 7 dedicated warm passes (round-6 verdict task 2 "
        "prescribed median of >=5); per-full-pass values in "
        "queries_pass*; its queries_inrun_ratio therefore divides the "
        "median-of-7 by the duck best-of-4 (every other ratio is "
        "best-of-4 / best-of-4)"
    )

    # per-query shuffle volume at the bench sf (round 7): one extra
    # execution per standalone basket query through its OWN plan
    # instance, summing shuffleBytesWritten across exchanges — the
    # scale design stated in bytes beside every wall-clock number.
    # Both round-7 sections are fail-soft: a failure surfaces as an
    # *_error key but never loses the core timing record.
    try:
        shuffle_mb: dict[str, float] = {}
        for name in STANDALONE:
            shuffle_mb[name] = _executed_shuffle_mb(standalone_dfs[name])
        # end-to-end (prep not cached here, so this includes the pivot
        # exchange — the full-chain design number, hence the _e2e key)
        shuffle_mb["anomaly_mse_e2e"] = _executed_shuffle_mb(mse_out)
        out["queries_shuffle_mb"] = shuffle_mb
    except Exception as exc:  # pragma: no cover - diagnostics only
        out["queries_shuffle_mb_error"] = f"{type(exc).__name__}: {exc}"

    # sf1 sections — only from the default sf0.1 grading run (an
    # explicitly redirected bench, e.g. an sf1 or sf0.01 iteration
    # loop, skips them; SPARK_GRAFT_SF1_SECTION=0 also opts out).  The
    # grading-scale full-cost record (round-8 verdict task 7) and the
    # ANN prebuilt split ride OUTSIDE the sf1 gate (round-9 ADVICE:
    # SPARK_GRAFT_SF1_SECTION=0 silently dropped them).  Every section
    # is fail-soft: a failure surfaces as its *_error key but never
    # loses the core timing record.
    sections = []
    if sf == "0.1" and os.environ.get("SPARK_GRAFT_SF1_SECTION") != "0":
        sections += [
            (_sf1_q3_pair, "sf1_section_error"),
            (_sf1_minhash, "sf1_minhash_error"),
            (_sf1_span_removal, "sf1_span_error"),
            (_sf1_perplexity, "sf1_perplexity_error"),
            (_sf1_langid, "sf1_langid_error"),
            (_sf1_anomaly, "sf1_anomaly_error"),
            (_sf1_anomaly_waist, "sf1_anomaly_waist_error"),
        ]
    if sf == "0.1":
        sections += [
            (
                lambda s, q: _perplexity_full_cost(s, q, sf_dir),
                "perplexity_full_error",
            ),
            (lambda s, q: _ann_prebuilt_section(s, sf_dir), "ann_prebuilt_error"),
        ]
    for section, error_key in sections:
        try:
            out.update(section(spark, queries))
        except Exception as exc:  # pragma: no cover - diagnostics only
            out[error_key] = f"{type(exc).__name__}: {exc}"

    # the production-shape cross ratio, SAME-RUN: scoring from the
    # waist table vs what a recompute-from-raw DuckDB user pays this
    # minute (the full-chain oracle timed by _sf1_anomaly)
    if "sf1_anomaly_mse_waist" in out and "sf1_anomaly_mse_duck_sec" in out:
        out["sf1_waist_vs_fullduck"] = round(
            out["sf1_anomaly_mse_waist"] / out["sf1_anomaly_mse_duck_sec"], 3
        )
    if "ann_lsh_prebuilt_query_sec" in out:
        # round-12 verdict task 7: the ANN deployment steady state
        # (prebuilt-index querying) becomes a GRADED `queries` row,
        # not only a side pin.  ADDED row (never renames/removes):
        # median-of-5 over the recipe-stamped index, recall floor
        # asserted in-run on these same outputs.  The build-included
        # inline row (ann_cosine_topk_lsh) stays unchanged; `value`
        # keeps its sum-of-queries definition so it grows by this row,
        # while the basket subtotals (basket12/13, comparable11) are
        # untouched for round-over-round comparability.
        best["ann_cosine_topk_lsh_prebuilt"] = out["ann_lsh_prebuilt_query_sec"]
        out["value"] = round(sum(best.values()), 3)
        out["ann_cosine_topk_lsh_prebuilt_reporting"] = (
            "warm median-of-5 prebuilt-index query; one-time build "
            "cost reported as ann_lsh_build_sec in the run that "
            "pays it; recall floor ann_prebuilt_min_recall >= 0.8 "
            "asserted in-run on the same outputs (registry parity "
            "twin: ann_cosine_topk_lsh_prebuilt)"
        )

    # The driver's BENCH_r{N}.json keeps only the LAST ~2.2 kB of
    # bench output (round-7 verdict task 2: the r7 artifact lost its
    # basket totals, pass-1 timings and ANN recall floors to tail
    # truncation).  A compact copy of every headline stat is therefore
    # serialized LAST, so any tail capture retains the full summary.
    # The driver's tail capture is 2000 BYTES (measured on BENCH_r11:
    # tail length exactly 2000, truncation eating the summary's FRONT)
    # — the summary is therefore curated to fit: basket sub-totals, the
    # per-plan shuffle-MB pins, the span-digest A/B rider and the
    # derivable waist duck-sec stay in the full JSON body (recorded in
    # the round docs on every official-shape run) but leave the tail;
    # the three recall floors merge into one [lsh, ivf, pq] list.
    # Round-12 re-measure: a run with wider numbers printed a 2026-byte
    # summary tail — 26 bytes over the capture, cutting "value" from
    # the tail.  The curation therefore also drops the five sf1
    # *_duck_sec keys (derivable: spark_sec / inrun_ratio), the three
    # ann_*_build_sec pins, the two sf1 q3 pins and the bucketed write
    # pin from the SUMMARY COPY ONLY (all stay in the full JSON body,
    # none is a `queries` entry), leaving ~340 bytes of headroom for
    # number-width wobble.
    out["summary"] = build_summary(out)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
