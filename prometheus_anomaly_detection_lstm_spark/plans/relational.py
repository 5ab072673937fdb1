"""Relational operator coverage on the TPC-H-ish testdata tables.

The reference's own join/agg surface is tiny (SURVEY §2.3-§2.5); these
queries prove the engine's general relational capability at scale —
multi-way broadcast joins, partial aggregation, semi/anti joins,
rollups, top-k-per-group — with Catalyst picking physical strategies
(AQE on; dimension tables broadcast explicitly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..io_tables import load_table
from ..functions.checkpoint import cut_lineage


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide partial-aggregable scan (map-side combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                6,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def tpch_q3_core(
    li: DataFrame, orders: DataFrame, cust: DataFrame
) -> DataFrame:
    """Q3 logic over caller-provided frames: lets a bucketed/pre-
    partitioned lake layout route through the IDENTICAL plan logic
    (tests/test_bucketed_tpch.py pins that an orderkey-bucketed layout
    drops both fact-side exchanges with the same answer)."""
    cust = cust.filter(F.col("c_mktsegment") == "BUILDING")
    orders = orders.filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    )
    li = li.filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is SF-proportional — unhinted so AQE broadcasts only
        # while its runtime size is under threshold (at 100 TB the
        # filtered segment is still tens of GB: shuffle join)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact-fact join + broadcast dim filter + agg."""
    return tpch_q3_core(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


ORACLE_TPCH_Q3 = """SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority"""


#: bucket count for the q3 bucketed-lake layout (matches the local
#: shuffle-partition scale; on a real cluster this is sized so one
#: bucket ~ one task's worth of fact rows — bench.py's sf1 section
#: passes 32 for the 10x-larger facts on the same principle).
Q3_BUCKETS = 8


def q_tpch_q3_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = Q3_BUCKETS
) -> DataFrame:
    """TPC-H Q3 routed through an orderkey-BUCKETED lake layout — the
    measured storage-policy remedy for the q3 fact⋈fact exchange
    (−39% at sf1, tests/test_bucketed_tpch.py pins answer identity and
    ≥2 dropped exchanges vs the plain form).

    Both facts are written ONCE as hash-bucketed external tables
    (``bucketBy(orderkey) + sortBy``); every later q3-shaped join on
    orderkey then plans with zero fact-side exchanges.  The one-time
    bucketing write is the layout cost a 100-TB lake pays at ingest,
    not per query — bench.py reports it separately
    (``tpch_q3_bucketed_write_sec``).  The query logic itself is the
    UNCHANGED :func:`tpch_q3_core`, so the oracle is ORACLE_TPCH_Q3.
    """
    import os
    import tempfile

    from ..io_tables import read_bucketed, write_bucketed

    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/"))
    tag = f"{tag}_b{n_buckets}"
    li_tbl, ord_tbl = f"q3b_lineitem_{tag}", f"q3b_orders_{tag}"
    root = os.path.join(
        tempfile.gettempdir(), "prometheus_anomaly_detection_lstm_spark_bucketed", tag
    )
    # Gate on the catalog AND the backing path: the external tables
    # live under the temp dir, so a persisted metastore can outlive a
    # cleaned /tmp — a catalog-only check would then plan over a
    # missing path (and report a ~0 s "write cost" on a warm
    # metastore).  bench.py additionally drops both tables up front so
    # its reported write cost is always the true one-time layout cost.
    def _missing(tbl: str) -> bool:
        return not spark.catalog.tableExists(tbl) or not os.path.isdir(
            os.path.join(root, tbl)
        )

    if _missing(li_tbl) or _missing(ord_tbl):
        li = _t(spark, sf_dir, "lineitem")
        orders = _t(spark, sf_dir, "orders")
        # external tables (explicit path) so the layout never depends
        # on a writable warehouse dir / metastore in the caller's cwd
        for df, tbl, key in (
            (li, li_tbl, "l_orderkey"),
            (orders, ord_tbl, "o_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            write_bucketed(
                df, tbl, key, n_buckets, sort_col=key,
                path=os.path.join(root, tbl),
            )
    return tpch_q3_core(
        read_bucketed(spark, li_tbl),
        read_bucketed(spark, ord_tbl),
        _t(spark, sf_dir, "customer"),
    )


def tpch_q5_core(
    li: DataFrame,
    orders: DataFrame,
    cust: DataFrame,
    supp: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Q5 logic over caller-provided frames (see :func:`tpch_q3_core`)."""
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # supplier/customer are SF-proportional — unhinted (AQE gates
        # the broadcast at runtime); nation/region are fixed 25/5 rows
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, dims broadcast, one fact shuffle."""
    return tpch_q5_core(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


ORACLE_TPCH_Q5 = """SELECT n_name, r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — predicate pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6
            ).alias("revenue")
        )
    )


ORACLE_TPCH_Q6 = """SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per customer (rank window, deterministic
    tiebreak on orderkey)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


ORACLE_TOPK_PER_GROUP = """WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM r WHERE rk <= 3"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins: customers with/without orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    okeys = orders.select(F.col("o_custkey"))
    with_orders = cust.join(
        okeys, cust.c_custkey == okeys.o_custkey, "left_semi"
    ).select("c_custkey").withColumn("has_orders", F.lit(1).cast("bigint"))
    without = cust.join(
        okeys, cust.c_custkey == okeys.o_custkey, "left_anti"
    ).select("c_custkey").withColumn("has_orders", F.lit(0).cast("bigint"))
    return with_orders.unionByName(without)


ORACLE_SEMI_ANTI_JOIN = """SELECT c_custkey, CAST(1 AS BIGINT) AS has_orders
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, CAST(0 AS BIGINT) AS has_orders
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping-id — hierarchical totals in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.count("*").alias("n"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


ORACLE_ROLLUP_AGG = """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       count(*) AS n,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (the batch twin of the streaming
    detector's per-trigger window, SURVEY §2.8-T5)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


ORACLE_WINDOWED_EVENTS = """SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 6) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1, 2"""


QUERIES = {
    "tpch_q1": (q_tpch_q1, ORACLE_TPCH_Q1),
    "tpch_q3": (q_tpch_q3, ORACLE_TPCH_Q3),
    "tpch_q3_bucketed": (q_tpch_q3_bucketed, ORACLE_TPCH_Q3),
    "tpch_q5": (q_tpch_q5, ORACLE_TPCH_Q5),
    "tpch_q6": (q_tpch_q6, ORACLE_TPCH_Q6),
    "topk_per_group": (q_topk_per_group, ORACLE_TOPK_PER_GROUP),
    "semi_anti_join": (q_semi_anti_join, ORACLE_SEMI_ANTI_JOIN),
    "rollup_agg": (q_rollup_agg, ORACLE_ROLLUP_AGG),
    "windowed_events": (q_windowed_events, ORACLE_WINDOWED_EVENTS),
}


# ---------------------------------------- incremental agg maintenance

#: history/delta split point for the incremental-merge demonstration.
Q1_DELTA_SPLIT = "TIMESTAMP_NTZ '1997-01-01 00:00:00'"


def _q1_partials(li: DataFrame) -> DataFrame:
    """Q1's algebraic partial state: every output is recoverable from
    (sums, count), so partials merge by addition — the property that
    makes the aggregate incrementally maintainable."""
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("__s_qty"),
        F.sum("l_extendedprice").alias("__s_base"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "__s_disc_price"
        ),
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("__s_charge"),
        F.sum("l_discount").alias("__s_disc"),
        F.count("*").alias("__n"),
    )


def q_tpch_q1_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the Q1 aggregate: the fact history
    and a new delta batch are aggregated SEPARATELY to algebraic
    partial states (sums + count), then merged by addition and the
    averages recomposed — the materialized-view refresh pattern that
    avoids rescanning 100 TB of history for each day's load.

    The oracle is the PLAIN Q1 over the full table, so the hash gate
    IS the merge-equals-recompute theorem; at scale the history
    partial would be the stored MV state (bounded-key rows), and only
    the delta ever scans."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'")
    )
    history = li.filter(F.col("l_shipdate") < F.expr(Q1_DELTA_SPLIT))
    delta = li.filter(F.col("l_shipdate") >= F.expr(Q1_DELTA_SPLIT))
    merged = (
        _q1_partials(history)
        .unionByName(_q1_partials(delta))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("__s_qty").alias("__s_qty"),
            F.sum("__s_base").alias("__s_base"),
            F.sum("__s_disc_price").alias("__s_disc_price"),
            F.sum("__s_charge").alias("__s_charge"),
            F.sum("__s_disc").alias("__s_disc"),
            F.sum("__n").alias("__n"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        F.round("__s_qty", 6).alias("sum_qty"),
        F.round("__s_base", 6).alias("sum_base_price"),
        F.round("__s_disc_price", 6).alias("sum_disc_price"),
        F.round("__s_charge", 6).alias("sum_charge"),
        F.round(F.col("__s_qty") / F.col("__n"), 6).alias("avg_qty"),
        F.round(F.col("__s_base") / F.col("__n"), 6).alias("avg_price"),
        F.round(F.col("__s_disc") / F.col("__n"), 6).alias("avg_disc"),
        F.col("__n").alias("count_order"),
    )


#: Oracle mirrors the SAME history/delta split and partial-merge
#: association: merging changes the floating-point summation order by
#: one association step, which lands a handful of cells one ulp across
#: the 6-dp rounding boundary vs the full-scan sum — so hash equality
#: against the plain-Q1 oracle is not float-safe.  The
#: merge-equals-recompute theorem is pinned in pytest
#: (tests/test_mining.py) with numeric tolerance instead.
_Q1_PARTIAL_SQL = """SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS s_qty,
       sum(l_extendedprice) AS s_base,
       sum(l_extendedprice * (1 - l_discount)) AS s_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS s_charge,
       sum(l_discount) AS s_disc,
       count(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' AND {pred}
GROUP BY l_returnflag, l_linestatus"""

ORACLE_TPCH_Q1_INCREMENTAL = f"""WITH h AS (
  {_Q1_PARTIAL_SQL.format(pred="l_shipdate < TIMESTAMP '1997-01-01 00:00:00'")}
), d AS (
  {_Q1_PARTIAL_SQL.format(pred="l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'")}
), u AS (
  SELECT * FROM h UNION ALL SELECT * FROM d
), m AS (
  SELECT l_returnflag, l_linestatus,
         sum(s_qty) AS s_qty, sum(s_base) AS s_base,
         sum(s_disc_price) AS s_disc_price, sum(s_charge) AS s_charge,
         sum(s_disc) AS s_disc, CAST(sum(n) AS BIGINT) AS n
  FROM u GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       round(s_qty, 6) AS sum_qty,
       round(s_base, 6) AS sum_base_price,
       round(s_disc_price, 6) AS sum_disc_price,
       round(s_charge, 6) AS sum_charge,
       round(s_qty / n, 6) AS avg_qty,
       round(s_base / n, 6) AS avg_price,
       round(s_disc / n, 6) AS avg_disc,
       n AS count_order
FROM m"""

QUERIES["tpch_q1_incremental"] = (
    q_tpch_q1_incremental,
    ORACLE_TPCH_Q1_INCREMENTAL,
)


# ------------------------------------------------- RFM segmentation

#: quartile edges for the R/F/M scores.
RFM_QS = (0.25, 0.5, 0.75)
#: recency anchor (the analysis date).
RFM_ANCHOR = "1998-12-31"


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer recency (days before the
    anchor), frequency (orders) and monetary (spend), each scored 0-3
    against exact quartile edges of the per-customer distribution, and
    a composite segment code.  Recency score is inverted — recent
    buyers score high.

    The per-customer rollup is one keyed aggregate; quartile edges are
    ONE one-row percentile aggregate over that (customer-cardinality)
    frame broadcast into a map-only scoring projection — no ntile, no
    global sort, the same no-single-partition-window discipline as the
    curriculum/PSI operators."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 6).alias("monetary"),
    )
    qs = ", ".join(repr(q) for q in RFM_QS)
    edges = per_cust.agg(
        F.expr(f"percentile(recency_days, array({qs}))").alias("__er"),
        F.expr(f"percentile(frequency, array({qs}))").alias("__ef"),
        F.expr(f"percentile(monetary, array({qs}))").alias("__em"),
    )

    def score(col, edge):
        return sum(
            F.when(F.col(col) > F.col(edge)[i], 1).otherwise(0)
            for i in range(len(RFM_QS))
        )

    return per_cust.join(F.broadcast(edges)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(3) - score("recency_days", "__er")).alias("r_score"),
        score("frequency", "__ef").alias("f_score"),
        score("monetary", "__em").alias("m_score"),
        F.concat(
            (F.lit(3) - score("recency_days", "__er")).cast("string"),
            score("frequency", "__ef").cast("string"),
            score("monetary", "__em").cast("string"),
        ).alias("segment"),
    )


def _rfm_oracle() -> str:
    qs = ", ".join(repr(q) for q in RFM_QS)

    def score(col, edge):
        return " + ".join(
            f"CASE WHEN {col} > {edge}[{i + 1}] THEN 1 ELSE 0 END"
            for i in range(len(RFM_QS))
        )

    r = score("recency_days", "er")
    f_ = score("frequency", "ef")
    m = score("monetary", "em")
    return f"""WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate::DATE), DATE '{RFM_ANCHOR}')
           AS recency_days,
         count(*) AS frequency,
         round(sum(o_totalprice), 6) AS monetary
  FROM orders GROUP BY 1
), edges AS (
  SELECT quantile_cont(recency_days, [{qs}]) AS er,
         quantile_cont(frequency, [{qs}]) AS ef,
         quantile_cont(monetary, [{qs}]) AS em
  FROM per_cust
)
SELECT o_custkey, recency_days, frequency, monetary,
       3 - ({r}) AS r_score,
       ({f_}) AS f_score,
       ({m}) AS m_score,
       CAST(3 - ({r}) AS VARCHAR) || CAST({f_} AS VARCHAR)
         || CAST({m} AS VARCHAR) AS segment
FROM per_cust, edges"""


QUERIES["customer_rfm_segments"] = (q_customer_rfm, _rfm_oracle())


# -------------------------------------------- association rules (lift)

#: minimum pair support (fraction of users) for a reported rule.
RULES_MIN_SUPPORT = 0.01


def q_events_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over per-user event-type baskets —
    support / confidence / lift for every ordered pair above the
    support floor (the market-basket primitive; full FP-growth prunes
    the same lattice, this is its 2-itemset stage).

    Baskets collapse to DISTINCT (user, type) first (support counts
    users, not events), the pair join is per-user (bounded fan-out:
    #types per user), and the singles frame joins back twice unhinted —
    type-cardinality, AQE broadcasts it.  The user-count denominator is
    a one-row broadcast.

    The baskets frame is lazily localCheckpoint'd: FIVE consumers read
    it (n_users, singles via both join sides, and both self-join
    sides), and Catalyst otherwise re-executes the corpus-wide
    scan+DISTINCT per consumer (round-11 audit: the worst offender at
    5 scans; post-checkpoint 1 — at lake scale that is 4 saved full
    passes).  The materialized frame is (user x type)-scale, bounded
    by users times the small type vocabulary — the perplexity/lang-id
    checkpoint precedent, not a corpus-scale spill.  Caveat (all
    localCheckpoint sites repo-wide): blocks live only on executors
    and lineage is truncated, so executor loss / dynamic-allocation
    downscaling makes the frame unrecomputable — deployments on
    preemptible executors should use reliable ``checkpoint()`` against
    a checkpoint dir instead (same plan shape, durable storage)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    baskets = (
        ev.select("user_id", F.col("event_type").alias("t"))
        .distinct()
        .transform(cut_lineage)
    )
    n_users = baskets.select("user_id").distinct().agg(
        F.count("*").cast("double").alias("__nu")
    )
    singles = baskets.groupBy("t").agg(F.count("*").alias("__n1"))
    a = baskets.withColumnRenamed("t", "antecedent")
    b = baskets.withColumnRenamed("t", "consequent")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("__n2"))
    )
    sa = singles.withColumnRenamed("t", "antecedent").withColumnRenamed(
        "__n1", "__na"
    )
    sc = singles.withColumnRenamed("t", "consequent").withColumnRenamed(
        "__n1", "__nc"
    )
    out = (
        pairs.join(sa, "antecedent")
        .join(sc, "consequent")
        .join(F.broadcast(n_users))
    )
    support = F.col("__n2") / F.col("__nu")
    conf = F.col("__n2") / F.col("__na")
    lift = conf / (F.col("__nc") / F.col("__nu"))
    return out.filter(support >= RULES_MIN_SUPPORT).select(
        "antecedent",
        "consequent",
        F.col("__n2").alias("n_users_both"),
        F.round(support, 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(lift, 6).alias("lift"),
    )


ORACLE_ASSOCIATION_RULES = f"""WITH baskets AS (
  SELECT DISTINCT user_id, event_type AS t FROM events
), nu AS (
  SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nu FROM baskets
), singles AS (
  SELECT t, count(*) AS n1 FROM baskets GROUP BY 1
), pairs AS (
  SELECT a.t AS antecedent, b.t AS consequent, count(*) AS n2
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.t <> b.t
  GROUP BY 1, 2
)
SELECT antecedent, consequent, n2 AS n_users_both,
       round(n2 / nu, 6) AS support,
       round(n2 / sa.n1, 6) AS confidence,
       round((n2 / sa.n1) / (sc.n1 / nu), 6) AS lift
FROM pairs
JOIN singles sa ON pairs.antecedent = sa.t
JOIN singles sc ON pairs.consequent = sc.t
CROSS JOIN nu
WHERE n2 / nu >= {RULES_MIN_SUPPORT}"""

QUERIES["events_association_rules"] = (
    q_events_association_rules,
    ORACLE_ASSOCIATION_RULES,
)


# -------------------------------------------------- ABC / Pareto by brand

def q_parts_abc_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts WITHIN each brand: rank
    parts by revenue, A = parts covering the first 70% of the brand's
    cumulative revenue, B to 90%, C the tail — the inventory-management
    classic.

    Scale shape: the cumulative-share window partitions BY BRAND, so
    there is no global sort anywhere (the naive formulation orders the
    whole part universe — a range-partitioned exchange); per-brand
    partitions are the brand's part count.  Revenue aggregates once on
    partkey, joins the brand dimension broadcast, and both window
    passes share the brand hash distribution.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    branded = rev.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        rev.l_partkey == part.p_partkey,
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("revenue"), F.asc("l_partkey")
    )
    wtot = Window.partitionBy("p_brand")
    d = branded.withColumn(
        "cum", F.sum("revenue").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("tot", F.sum("revenue").over(wtot))
    # a part belongs to the class its cumulative share STARTS in, so
    # the threshold-CROSSING part is included (standard ABC: a brand
    # whose top part alone covers 95% still has that part in A)
    prev = F.col("cum") - F.col("revenue")
    classed = d.withColumn(
        "abc",
        F.when(prev < 0.7 * F.col("tot"), "A")
        .when(prev < 0.9 * F.col("tot"), "B")
        .otherwise("C"),
    )
    return classed.groupBy("p_brand", "abc").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("revenue"), 6).alias("class_revenue"),
    )


ORACLE_PARTS_ABC = """WITH rev AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
  FROM lineitem GROUP BY 1
), d AS (
  SELECT p.p_brand, r.l_partkey, r.revenue,
         sum(r.revenue) OVER (PARTITION BY p.p_brand
             ORDER BY r.revenue DESC, r.l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(r.revenue) OVER (PARTITION BY p.p_brand) AS tot
  FROM rev r JOIN part p ON r.l_partkey = p.p_partkey
)
SELECT p_brand, CASE WHEN cum - revenue < 0.7 * tot THEN 'A'
                     WHEN cum - revenue < 0.9 * tot THEN 'B'
                     ELSE 'C' END AS abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(revenue), 6) AS class_revenue
FROM d GROUP BY 1, 2"""

QUERIES["parts_abc_by_brand"] = (q_parts_abc_by_brand, ORACLE_PARTS_ABC)


# ------------------------------------------------ shipping-delay profile

def q_shipping_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay distribution per order priority: day-bucket
    histogram plus exact p50/p90 — the fulfillment-SLA readout.  One
    fact-fact equi-join on orderkey (both sides keyed), aggregates on
    (priority, delay_days) then priority."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        li.l_orderkey == orders.o_orderkey,
    )
    delays = joined.select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay_days"
        ),
    )
    return delays.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lineitems"),
        F.round(F.avg("delay_days"), 6).alias("avg_delay"),
        F.round(F.expr("percentile(delay_days, 0.5D)"), 6).alias("p50_delay"),
        F.round(F.expr("percentile(delay_days, 0.9D)"), 6).alias("p90_delay"),
        F.max("delay_days").cast("bigint").alias("max_delay"),
    )


ORACLE_SHIPPING_DELAY = """WITH d AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS delay_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lineitems,
       round(avg(delay_days), 6) AS avg_delay,
       round(quantile_cont(delay_days, 0.5), 6) AS p50_delay,
       round(quantile_cont(delay_days, 0.9), 6) AS p90_delay,
       CAST(max(delay_days) AS BIGINT) AS max_delay
FROM d GROUP BY 1"""

QUERIES["shipping_delay_profile"] = (
    q_shipping_delay_profile,
    ORACLE_SHIPPING_DELAY,
)
