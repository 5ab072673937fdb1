"""Self-shipping: make this package importable on executor Python workers.

Closures sent through mapInPandas/applyInPandas reference package
classes BY MODULE PATH (cloudpickle pickles importable symbols by
reference), so the Python worker must be able to import
``prometheus_anomaly_detection_lstm_spark`` — which is not guaranteed when the
driving process runs from another directory.  ``ensure_shipped`` zips
the package once per process and registers it with
``SparkContext.addPyFile`` so every worker can.

Lazy zip invalidation: PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``).  On Python 3.11 that makes every
``zipimporter`` on the worker's path re-parse its archive's whole central
directory, even when nothing changed: 18-19 importers, 13 of them over
pyspark.zip (1,328 entries), the rest over the spark-core jar, this
package's zip and py4j; 0.19-0.24 CPU-s a call on a 4-vCPU box.  The
package ``__init__`` calls :func:`install_lazy_zip_invalidation`, so
every worker that unpickles a package symbol installs it: an archive is
re-read only when its ``(st_ino, st_size, st_mtime_ns)`` differs from the
last read, and an unchanged one reuses the shared directory cache
(0.0002 CPU-s a call).
A reused worker (``spark.python.worker.reuse``, the default) pays the
full cost only on its first task: a task on it adds about 0.09 CPU-s to
the process tree, 0.34 before, while a fresh worker spends about
0.7 CPU-s of its own on its first task either way.  Python 3.12 made the
invalidation lazy itself (gh-103200), so there the install does nothing.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipimport

_shipped: set[int] = set()
# archive path -> (st_ino, st_size, st_mtime_ns) when it was last read
_read_keys: dict[str, tuple[int, int, int] | None] = {}


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    import prometheus_anomaly_detection_lstm_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(
        tempfile.gettempdir(), f"prometheus_anomaly_detection_lstm_spark_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        out, "zip", root_dir=root, base_dir="prometheus_anomaly_detection_lstm_spark"
    )
    sc.addPyFile(zip_path)
    _shipped.add(key)


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _recording_reader(read):
    """Wrap ``zipimport._read_directory`` to remember each archive's key.
    The stat comes before the read, so a write racing the read leaves an
    old key and the next invalidation reads again."""

    def _read_directory(archive):
        key = _archive_key(archive)
        files = read(archive)
        _read_keys[archive] = key
        return files

    return _read_directory


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    archive; the fallback mirrors CPython 3.11's own."""
    archive = self.archive
    files = zipimport._zip_directory_cache.get(archive)
    key = _read_keys.get(archive)
    if files is None or key is None or key != _archive_key(archive):
        try:
            files = zipimport._read_directory(archive)
            zipimport._zip_directory_cache[archive] = files
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)
            files = {}
    self._files = files


def install_lazy_zip_invalidation() -> None:
    """Install the lazy ``zipimporter.invalidate_caches`` once per process
    (Python < 3.12 only).  Directories already cached count as read now:
    in a worker, the task's own invalidation read them moments ago."""
    if (
        sys.version_info >= (3, 12)
        or zipimport.zipimporter.invalidate_caches is _invalidate_caches
    ):
        return
    for archive in zipimport._zip_directory_cache:
        _read_keys[archive] = _archive_key(archive)
    zipimport._read_directory = _recording_reader(zipimport._read_directory)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
