"""Driver-contract order independence (round-12 preflight finding), and
the lazy zip invalidation the shipped package installs on workers.

A UDF-bearing registry query run as the FIRST query of a session whose
driver cwd is OUTSIDE the repo must work: closures sent through
applyInPandas pickle package symbols by module reference, so the
worker can only import them after shipping.ensure_shipped — which the
registry wrapper now guarantees for every query.  Before the fix,
metric_holt_winters (and any UDF query) raised ModuleNotFoundError on
the executor whenever no earlier query in the window had shipped the
package zip; eleven rounds of green windows never exposed it because
some earlier query always had.

The worker-side checks run in the same fresh-subprocess style, so the
package reaches the Python workers as the ``addPyFile`` zip.
"""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from prometheus_anomaly_detection_lstm_spark import shipping

REPO = Path(__file__).resolve().parents[1]

lazy_only = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12+ invalidates zip caches lazily; nothing is installed",
)


def _run_foreign(script: str, tmp_path, **env: str) -> str:
    """Run ``script`` in a fresh interpreter whose cwd is outside the repo
    and whose PYTHONPATH is empty; return its stdout."""
    proc = subprocess.run(
        [sys.executable, "-c", script.format(repo=str(REPO))],
        cwd=str(tmp_path),  # NOT the repo — imports must ship via zip
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": "", **env},
    )
    return proc.stdout + f"\nstderr={proc.stderr[-2000:]}"


SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("ship-contract").getOrCreate()
)
from prometheus_anomaly_detection_lstm_spark.registry import all_queries
df = all_queries()["metric_holt_winters"][0](spark, "/root/testdata/sf0.001")
rows = df.collect()
print("SHIP_OK", len(rows))
"""


def test_udf_query_first_from_foreign_cwd(tmp_path):
    out = _run_foreign(SCRIPT, tmp_path)
    assert "SHIP_OK" in out, out[-4000:]


def test_registry_wrapper_preserves_wrapped():
    from prometheus_anomaly_detection_lstm_spark import registry

    q = registry.all_queries()["tpch_q1"][0]
    assert hasattr(q, "__wrapped__")


@pytest.fixture()
def count_reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls from here on."""
    calls = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


@lazy_only
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, count_reads):
    archive = tmp_path / "lazy.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("lazy_zip_mod_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("lazy_zip_mod_a", "lazy_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, str(archive), raising=False)

    assert importlib.import_module("lazy_zip_mod_a").A == 1
    count_reads.clear()  # the new importer's own first read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert count_reads == []

    with zipfile.ZipFile(archive, "w") as zf:  # a changed archive
        zf.writestr("lazy_zip_mod_a.py", "A = 1\n")
        zf.writestr("lazy_zip_mod_b.py", "B = 2\n")
    importlib.invalidate_caches()
    assert count_reads == [str(archive)]
    assert importlib.import_module("lazy_zip_mod_b").B == 2
    for name in ("lazy_zip_mod_a", "lazy_zip_mod_b"):
        del sys.modules[name]
    del sys.path_importer_cache[str(archive)]
    del zipimport._zip_directory_cache[str(archive)]


@lazy_only
def test_second_install_is_a_noop():
    installed = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)
    assert installed[1] is shipping._invalidate_caches
    shipping.install_lazy_zip_invalidation()
    assert (
        zipimport._read_directory,
        zipimport.zipimporter.invalidate_caches,
    ) == installed


# Three one-task jobs on one reused worker.  The first task wraps the
# worker's ``zipimport._read_directory`` in a counter; each later task
# reports the reads made since the previous task ended (the worker's own
# per-task ``importlib.invalidate_caches()`` among them) and the reads of
# one more explicit invalidation.  ``shipping`` in the closure's globals
# is pickled by module reference, so unpickling imports the package.
WORKER_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .appName("lazy-zip-invalidation").getOrCreate()
)
from prometheus_anomaly_detection_lstm_spark import shipping
shipping.ensure_shipped(spark)

def probe(batches):
    import importlib, zipimport
    import pandas as pd
    for _ in batches:
        pass
    if not hasattr(zipimport, "_test_reads"):
        zipimport._test_reads = [0]
        read = zipimport._read_directory
        def counted(archive):
            zipimport._test_reads[0] += 1
            return read(archive)
        zipimport._read_directory = counted
    between = zipimport._test_reads[0]
    zipimport._test_reads[0] = 0
    importlib.invalidate_caches()
    explicit = zipimport._test_reads[0]
    zipimport._test_reads[0] = 0
    yield pd.DataFrame({{
        "pid": [os.getpid()], "between": [between], "explicit": [explicit],
        "zipped": [".zip" in shipping.__file__],
    }})

df = spark.range(1, numPartitions=1)
schema = "pid long, between long, explicit long, zipped boolean"
rows = [df.mapInPandas(probe, schema).collect()[0] for _ in range(3)]
print("WORKER_ROWS", [tuple(r) for r in rows])
"""


@lazy_only
def test_reused_worker_does_not_reread_zips(tmp_path):
    out = _run_foreign(WORKER_SCRIPT, tmp_path)
    assert "WORKER_ROWS" in out, out[-4000:]
    rows = ast.literal_eval(out.split("WORKER_ROWS", 1)[1].splitlines()[0])
    assert len({pid for pid, *_ in rows}) == 1, rows  # one reused worker
    assert all(zipped for *_, zipped in rows), rows  # the package came as a zip
    for _, between, explicit, _ in rows[1:]:
        assert (between, explicit) == (0, 0), rows


STATEFUL_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("stateful-ship").getOrCreate()
)
from prometheus_anomaly_detection_lstm_spark.streaming.stateful import (
    stateful_detector_stream,
)
ts = pd.date_range("2024-01-01", periods=4, freq="1min")
pdf = pd.DataFrame([
    {{"detector_id": "d1", "ts": t, "metric": m, "value": 0.5}}
    for m in ("cpu", "mem") for t in ts
])
spark.createDataFrame(pdf).coalesce(1).write.parquet("src")
src = spark.readStream.schema(spark.read.parquet("src").schema).parquet("src")
q = (
    stateful_detector_stream(src, ["cpu", "mem"], sequence_length=3)
    .writeStream.format("parquet").option("path", "out")
    .option("checkpointLocation", "ckpt")
    .trigger(availableNow=True).start()
)
q.awaitTermination(240)
assert q.exception() is None, q.exception()
rows = spark.read.parquet("out").collect()
print("STATEFUL_ROWS", [(r.detector_id, r.n_points, r.mse) for r in rows])
"""


def test_stateful_stream_ships_package_from_foreign_cwd(tmp_path):
    """The state function calls a package helper by module reference, so
    the stream must ship the package itself."""
    out = _run_foreign(STATEFUL_SCRIPT, tmp_path)
    assert "STATEFUL_ROWS" in out, out[-4000:]
    rows = ast.literal_eval(out.split("STATEFUL_ROWS", 1)[1].splitlines()[0])
    assert len(rows) == 1, rows
    detector, n_points, mse = rows[0]
    assert (detector, n_points) == ("d1", 4)
    assert mse == pytest.approx((0.5 - (0.9 * 0.5 + 0.02)) ** 2, rel=1e-12)


EXIT_SCRIPT = """
import glob, os, sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .appName("ship-exit").getOrCreate()
)
from prometheus_anomaly_detection_lstm_spark import shipping
shipping.ensure_shipped(spark)

def probe(batches):
    for b in batches:
        yield b.assign(zipped=".zip" in shipping.__file__)

rows = spark.range(2).mapInPandas(probe, "id long, zipped boolean").collect()
pattern = os.path.join(tempfile.gettempdir(), "prometheus_anomaly_detection_lstm_spark_*.zip")
print("EXIT_RUN", ([r.zipped for r in rows], len(glob.glob(pattern))))
"""


def test_shipped_zip_is_removed_at_exit(tmp_path):
    """The package zip stays while the driver runs (its file server
    serves it) and is gone once the interpreter has exited."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    out = _run_foreign(EXIT_SCRIPT, tmp_path, TMPDIR=str(tmpdir))
    assert "EXIT_RUN" in out, out[-4000:]
    zipped, zips_while_running = ast.literal_eval(
        out.split("EXIT_RUN", 1)[1].splitlines()[0]
    )
    assert zipped == [True, True] and zips_while_running == 1, out[-4000:]
    assert list(tmpdir.glob("prometheus_anomaly_detection_lstm_spark_*.zip")) == []
