"""sf1 crossover experiment (round-3 verdict task 3).

BASELINE.md argues the 6.4x gap to the DuckDB anchor at sf0.1 is fixed
per-stage overhead and the crossover sits near sf1; this measures it.

    python tools/sf1_crossover.py gen     # build /tmp/crossover/sf1
    python tools/sf1_crossover.py duck    # time DuckDB on it
    SPARK_GRAFT_SF_DIR=/tmp/crossover/sf1 python bench.py   # Spark side

``gen`` replicates the sf0.1 fact tables 10x through
``io_tables.replicate`` — bench.py's sf1 recipe, so the two write the
same data: distinct keys per copy (join fan-outs, group cardinalities
and duplicate-group sizes grow realistically), events shifted 30 days
per copy, and a per-copy document suffix token so the dedup workload
does not degenerate into 10-member exact-duplicate groups.  Documents
and events go through ``io_tables.ensure_replica`` as in bench.py, so
they carry the same recipe stamps and a stamped table is reused.
``duck`` runs the same headline queries' DuckDB oracle SQL against
identical parquet, best-of-three per query — the apples-to-apples
single-process anchor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = "/tmp/crossover/sf1"
SRC = "/root/testdata/sf0.1"
MULT = 10

#: standalone headline queries timed on the DuckDB side from their
#: registry oracles verbatim.  The four pipeline-derived entries are
#: timed separately (see ``duck``) through a shared materialized prep
#: table — the EXACT shape bench.py times on the Spark side (prep
#: persists once; mse/minmax/split consume the cache), so every basket
#: line is now apples-to-apples including pipeline_prep (round-4
#: verdict task 5: prep and mse were previously conflated).
DUCK_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "windowed_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_scores",
]


def gen() -> None:
    from prometheus_anomaly_detection_lstm_spark.io_tables import (
        TABLES,
        ensure_replica,
        write_replica,
    )
    from prometheus_anomaly_detection_lstm_spark.session import get_spark

    spark = get_spark("sf1-gen")
    spark.sparkContext.setLogLevel("ERROR")
    for name in TABLES:
        if name in ("documents", "events"):  # recipe-stamped, as bench.py
            ensure_replica(spark, SRC, OUT_DIR, name, MULT)
        else:
            write_replica(spark, SRC, OUT_DIR, name, MULT)
        print(f"{name}: written", flush=True)


def duck(src: str = OUT_DIR, sf: float = 1.0) -> None:
    import duckdb

    import __spark_entry__ as E
    from prometheus_anomaly_detection_lstm_spark import oracles as O
    from prometheus_anomaly_detection_lstm_spark.io_tables import TABLES

    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        glob = "/*.parquet" if os.path.isdir(f"{src}/{t}.parquet") else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet{glob}'"
        )
    timings: dict[str, float] = {}

    def best_of(name: str, run) -> None:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]}", flush=True)

    # ---- shared pipeline, bench.py's exact shape: materialize the
    # aligned->filled->scaled frame ONCE, then the three consumers
    # read the materialization (Spark persists; DuckDB temp-tables)
    prep_sql = O.pipeline_prefix("scaled") + "\nSELECT * FROM scaled"
    mse_from_prep = (
        "WITH "
        + O.ERR_CTE.replace("FROM scaled", "FROM __prep")
        + ",\n"
        + O.WIN_CTE
        + f"\nSELECT window_id, ts AS start_ts, round(mse, 8) AS mse"
        f" FROM win WHERE cnt = {O.L}"
    )
    minmax_from_prep = (
        "SELECT ts, "
        + ", ".join(f"round({c}, 6) AS {c}" for c in O.FEATURES)
        + " FROM __prep"
    )
    split_from_prep = (
        "WITH "
        + O.ERR_CTE.replace("FROM scaled", "FROM __prep")
        + ",\n"
        + O.WIN_CTE
        + f""",
flags AS (
  SELECT CAST(mse > {O.ANOMALY_THRESHOLD} AS BIGINT) AS is_anomaly
  FROM win WHERE cnt = {O.L}
)
SELECT is_anomaly, CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
FROM flags GROUP BY 1"""
    )

    def make_prep():
        con.execute("DROP TABLE IF EXISTS __prep")
        con.execute(f"CREATE TEMP TABLE __prep AS {prep_sql}")

    best_of("pipeline_prep", make_prep)
    best_of("anomaly_mse", lambda: con.execute(mse_from_prep).fetchall())
    best_of(
        "minmax_scaled", lambda: con.execute(minmax_from_prep).fetchall()
    )
    best_of(
        "threshold_split", lambda: con.execute(split_from_prep).fetchall()
    )

    for name in DUCK_QUERIES:
        sql = oracles[name]
        best_of(name, lambda sql=sql: con.execute(sql).fetchall())
    print(
        json.dumps(
            {
                "engine": "duckdb",
                "sf": sf,
                "value": round(sum(timings.values()), 3),
                "queries": timings,
            }
        )
    )


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        gen()
    elif cmd == "duck":
        duck()
    elif cmd == "duck0.1":
        # same basket against the sf0.1 source tables (single-file
        # parquet) — the anchor row for the growth comparison
        duck(src=SRC, sf=0.1)
    else:
        raise SystemExit(f"unknown command {cmd}")
