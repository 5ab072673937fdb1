"""Scale-growth harness: registry query wall time vs data volume.

For each multiplier, every table of ``--sf`` is written through
``io_tables.write_replica`` (bench.py's sf1 recipe: distinct keys per
copy, events shifted 30 days per copy so series grow in time, a
per-copy document suffix token, dimension tables as-is) into one
temporary directory, and each named query from
``registry.all_queries()`` is timed by ``bench.measure``: one warm-up
pass, then the best of 3 noop writes.  A query whose construction
registers a checkpoint is rebuilt and timed full-cost on every pass
(a re-execution of one built frame would time only the tail after a
lazy checkpoint); any other query is built once and re-executed.
Near-linear wall growth = no hidden super-linear stage.  Prints one
JSON line per multiplier; results are recorded in BASELINE.md.  The
temporary directory is removed at the end.

    python tools/growth.py NAME... [--sf DIR] [--mults 1 4 10]

``NAME`` is a registry query name or a registry module name (``robust``,
``wave8``, ``mining``, ...) that expands to that module's ``QUERIES``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PKG = "prometheus_anomaly_detection_lstm_spark"


def expand(names: list[str], queries: dict) -> list[str]:
    """Query names for ``names``: each is a registry query, or the
    ``plans``/``operators``/``ml`` module whose ``QUERIES`` it names."""
    out: list[str] = []
    for name in names:
        if name in queries:
            out.append(name)
            continue
        for pkg in ("plans", "operators", "ml"):
            try:
                mod = importlib.import_module(f"{PKG}.{pkg}.{name}")
            except ModuleNotFoundError as e:
                if e.name != f"{PKG}.{pkg}.{name}":
                    raise
                continue
            if hasattr(mod, "QUERIES"):
                out.extend(mod.QUERIES)
                break
        else:
            raise SystemExit(f"{name!r} is neither a query nor a registry module")
    return out


def main(argv: list[str] | None = None) -> None:
    import bench
    from prometheus_anomaly_detection_lstm_spark.io_tables import (
        REPLICA_KEYS,
        TABLES,
        write_replica,
    )
    from prometheus_anomaly_detection_lstm_spark.registry import all_queries
    from prometheus_anomaly_detection_lstm_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mults", nargs="+", type=int, default=[1, 4, 10])
    args = ap.parse_args(argv)

    queries = all_queries()
    names = expand(args.names, queries)
    tables = [t for t in TABLES if os.path.exists(f"{args.sf}/{t}.parquet")]
    spark = get_spark("growth")
    root = tempfile.mkdtemp(prefix="growth-")
    try:
        for mult in args.mults:
            sf_dir = f"{root}/x{mult}"
            rows = {}
            for t in tables:
                write_replica(spark, args.sf, sf_dir, t, mult)
                if t in REPLICA_KEYS:
                    rows[t] = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
            timings = {
                n: bench.measure(
                    spark, {n: lambda: queries[n][0](spark, sf_dir)}, 3, min
                )[n]
                for n in names
            }
            print(
                json.dumps({"mult": mult, "rows": rows, "queries": timings}),
                flush=True,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
