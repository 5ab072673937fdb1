"""Build the sf1 crossover artifact that bench.py's sf1 sections read.

BASELINE.md argues the 6.4x gap to the DuckDB anchor at sf0.1 is fixed
per-stage overhead and the crossover sits near sf1; this builds the
data to measure it.

    python tools/sf1_crossover.py gen     # build /tmp/crossover/sf1
    SPARK_GRAFT_SF_DIR=/tmp/crossover/sf1 python bench.py

``gen`` writes every table of the sf0.1 base 10x through
``io_tables.ensure_replica`` — bench.py's sf1 recipe, so the two write
the same data under the same recipe stamps, and a stamped table is
reused: distinct keys per copy (join fan-outs, group cardinalities and
duplicate-group sizes grow realistically), events shifted 30 days per
copy, a per-copy document suffix token so the dedup workload does not
degenerate into 10-member exact-duplicate groups, and dimension tables
as-is.  The bench run on the artifact times every comparable-11 query
against its DuckDB oracle in the same process (``queries_duck``,
``comparable11_inrun_ratio``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = "/tmp/crossover/sf1"
SRC = "/root/testdata/sf0.1"
MULT = 10


def gen() -> None:
    from prometheus_anomaly_detection_lstm_spark.io_tables import (
        TABLES,
        ensure_replica,
    )
    from prometheus_anomaly_detection_lstm_spark.session import get_spark

    spark = get_spark("sf1-gen")
    spark.sparkContext.setLogLevel("ERROR")
    for name in TABLES:
        print(name, ensure_replica(spark, SRC, OUT_DIR, name, MULT), flush=True)


if __name__ == "__main__":
    if sys.argv[1:] != ["gen"]:
        raise SystemExit("usage: python tools/sf1_crossover.py gen")
    gen()
