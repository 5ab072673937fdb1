"""Prometheus range-query source (SURVEY §2.1-S1..S5, §4-O1..O3).

Two layers, both network-free-testable:

1. :func:`parse_response_df` — decode raw ``/api/v1/query_range`` JSON
   bodies already sitting in a DataFrame column (S3): ``from_json`` +
   ``explode`` + cast, with the first-series rule (S4) and string->double
   coercion (P2) as Catalyst expressions.  This is the path the
   FIXTURES-F2 tests exercise.

2. :class:`PrometheusDataSource` — a Spark 4 Python DataSource whose
   reader plans ONE InputPartition PER time chunk (O1: the reference's
   1-hour chunk granularity, data_collector.py:85-111, is the only unit
   of scan parallelism) and fetches over HTTP inside the executor: the
   partition carries every query, and its one task makes one call per
   (query, chunk) over a shared HTTP session.  Queries are not split
   into tasks of their own because a Python task has a fixed cost that
   dwarfs a poll: on a 4-vCPU box a read of 16 queries x 7 points took
   6.6 CPU-s as 16 tasks and 0.9 CPU-s as one.  Most of that per-task
   cost was PySpark's per-task ``importlib.invalidate_caches()``, which
   on Python 3.11 re-read the zip directory behind each of the worker's
   18-19 zipimporters (~0.2 CPU-s a call).  The package now installs a
   lazy invalidation on every worker that imports it (``shipping``): a
   task on a reused worker adds about 0.09 CPU-s to the process tree
   (0.34 before), and a fresh worker spends about 0.7 CPU-s of its own
   on its first task.  PromQL stays opaque — ``rate()``/``sum by()`` run
   inside Prometheus (O2, the source-pushdown analog).  A deterministic
   per-chunk JSON file cache (S5: keyed by query+range+step like the
   reference's diskcache, data_collector.py:34-40) makes re-reads
   idempotent and cheap.

Register with ``spark.dataSource.register(PrometheusDataSource)`` then::

    spark.read.format("prometheus")
         .option("url", "http://prom:9090")
         .option("queries_json", json.dumps({"cpu": "rate(cpu[2m])"}))
         .option("start", "2024-01-01T00:00:00Z")
         .option("end", "2024-01-02T00:00:00Z")
         .option("step_seconds", "120")
         .load()

Output schema (long format — feed to operators.align.metrics_wide):
    metric STRING, series_idx INT, ts TIMESTAMP, value DOUBLE
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: /api/v1/query_range response schema (data_collector.py:57-68).
RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("errorType", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("resultType", T.StringType()),
                    T.StructField(
                        "result",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField(
                                        "metric",
                                        T.MapType(
                                            T.StringType(), T.StringType()
                                        ),
                                    ),
                                    T.StructField(
                                        "values",
                                        T.ArrayType(
                                            T.ArrayType(T.StringType())
                                        ),
                                    ),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def parse_response_df(
    responses: DataFrame,
    body_col: str = "body",
    alias_col: str = "query_alias",
    first_series_only: bool = True,
) -> DataFrame:
    """Raw JSON bodies -> long samples (metric, series_idx, ts, value).

    Decode chain (all Catalyst): from_json -> posexplode(result) ->
    explode(values) -> epoch cast (P3) + numeric coercion (P2: try_cast
    yields NULL on unparseable values, same as pd.to_numeric coerce).
    Error-status responses and empty results vanish via the explode.
    The first-series rule (S4) keeps series_idx 0 only
    (data_collector.py:71-75 warns and takes result[0]).
    """
    parsed = responses.withColumn(
        "__r", F.from_json(F.col(body_col), RESPONSE_SCHEMA)
    ).filter(F.col("__r.status") == "success")
    series = parsed.select(
        F.col(alias_col).alias("metric"),
        F.posexplode_outer("__r.data.result").alias("series_idx", "series"),
    )
    if first_series_only:
        series = series.filter(F.col("series_idx") == 0)
    samples = series.select(
        "metric",
        "series_idx",
        F.explode("series.values").alias("sample"),
    )
    return samples.select(
        "metric",
        "series_idx",
        F.timestamp_seconds(
            F.element_at("sample", 1).cast("double")
        ).alias("ts"),
        F.element_at("sample", 2)
        .try_cast("double")
        .alias("value"),
    )


def _chunks(
    start: int, end: int, chunk_seconds: int, step: int = 0
) -> list[tuple[int, int]]:
    """Disjoint [t, e] windows covering [start, end].

    Prometheus ``query_range`` is inclusive at BOTH ends, so adjacent
    chunks sharing a boundary instant would each return the boundary
    sample — a duplicate (metric, ts) row for any direct
    ``format('prometheus')`` read.  Each subsequent chunk therefore
    starts one ``step`` after the previous chunk's end; with
    ``chunk_seconds`` a multiple of ``step`` (the reference's 1 h chunks
    at 2 min steps) the step grid alignment is preserved and every
    instant is emitted exactly once.
    """
    out = []
    t = start
    while t <= end:
        e = min(t + chunk_seconds, end)
        out.append((t, e))
        if e >= end:
            break
        t = e + step
    return out


def _epoch(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp())


class _ChunkPartition(InputPartition):
    """One time chunk of every query: the sorted ``(alias, promql)``
    pairs, each fetched over ``[start, end]`` at ``step`` in one task."""

    def __init__(self, queries, start, end, step):
        self.queries = queries
        self.start = start
        self.end = end
        self.step = step


class _ChunkReader:
    """Options, chunk planning and the per-chunk read shared by the
    batch and stream readers.  ``fail_on_error`` decides what an error
    payload does: zero rows (batch) or a failed task (stream)."""

    fail_on_error = False

    def __init__(self, options):
        self.url = options.get("url", "http://localhost:9090")
        self.queries = json.loads(options.get("queries_json", "{}"))
        self.step = int(options.get("step_seconds", "120"))
        self.chunk_seconds = int(
            float(options.get("chunk_hours", "1")) * 3600
        )
        self.cache_dir = options.get("cache_dir", "")
        self.timeout = float(options.get("timeout_seconds", "30"))
        self.first_series_only = (
            options.get("first_series_only", "true").lower() == "true"
        )

    def _plan(self, start: int, end: int) -> list[_ChunkPartition]:
        pairs = tuple(sorted(self.queries.items()))
        return [
            _ChunkPartition(pairs, s, e, self.step)
            for (s, e) in _chunks(start, end, self.chunk_seconds, self.step)
        ]

    def read(self, partition: _ChunkPartition):
        """Fetch and decode every query of the chunk in order, over one
        shared HTTP session: one call per (query, chunk)."""
        import requests

        with requests.Session() as http:
            for alias, promql in partition.queries:
                payload = _fetch_payload(
                    self.url, promql, partition, self.cache_dir,
                    self.timeout, http,
                )
                if self.fail_on_error and payload.get("status") != "success":
                    raise RuntimeError(
                        f"Prometheus query {alias!r} failed over "
                        f"[{partition.start}, {partition.end}]: "
                        f"{payload.get('errorType')}: {payload.get('error')}"
                    )
                yield from _rows_from_payload(
                    payload, alias, self.first_series_only
                )


class PrometheusReader(_ChunkReader, DataSourceReader):
    """Batch reader.  An error payload yields no rows: the reference
    logs and skips it."""

    def __init__(self, options):
        super().__init__(options)
        self.start = _epoch(options["start"])
        self.end = _epoch(options["end"])

    def partitions(self):
        return self._plan(self.start, self.end)


def _fetch_payload(
    url: str,
    promql: str,
    part: _ChunkPartition,
    cache_dir: str,
    timeout: float,
    http,
) -> dict:
    """One /api/v1/query_range HTTP fetch of ``promql`` over the chunk
    ``part`` on the session ``http``, with the deterministic JSON file
    cache (S5, data_collector.py:34-40)."""
    cache = None
    if cache_dir:
        key = hashlib.md5(
            f"{url}|{promql}|{part.start}|{part.end}|{part.step}".encode()
        ).hexdigest()
        cache = os.path.join(cache_dir, f"{key}.json")
    if cache and os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    resp = http.get(
        f"{url}/api/v1/query_range",
        params={
            "query": promql,
            "start": part.start,
            "end": part.end,
            "step": part.step,
        },
        timeout=timeout,
    )
    resp.raise_for_status()
    payload = resp.json()
    # only non-empty successful results are cached (data_collector.py:79-80)
    if (
        cache
        and payload.get("status") == "success"
        and payload.get("data", {}).get("result")
    ):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = cache + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, cache)
    return payload


def _rows_from_payload(payload: dict, alias: str, first_series_only: bool):
    """Decode one response payload into (metric, series_idx, ts, value)
    rows — S4 first-series rule + P2 numeric coercion."""
    if payload.get("status") != "success":
        return
    result = payload.get("data", {}).get("result", [])
    if first_series_only:
        result = result[:1]  # S4 first-series rule
    for idx, series in enumerate(result):
        for ts_s, val in series.get("values", []):
            try:
                v = float(val)
            except (TypeError, ValueError):
                v = None  # P2 coercion
            yield (
                alias,
                idx,
                datetime.fromtimestamp(float(ts_s), tz=timezone.utc).replace(
                    tzinfo=None
                ),
                v,
            )


class PrometheusStreamReader(_ChunkReader, DataSourceStreamReader):
    """Rate-driven streaming wrapper over the same per-cycle fetch the
    ``foreachBatch`` detector uses (T1/T2 semantics as a first-class
    ``spark.readStream.format("prometheus")`` surface).

    Offsets are step-aligned epoch seconds ``{"ts": t}`` marking the
    EXCLUSIVE end of fetched data: each microbatch covers the grid
    points ``[start.ts, end.ts - step]`` (query_range is inclusive at
    both ends, so the exclusive end avoids the chunk-boundary duplicate
    the batch reader's :func:`_chunks` handles).  ``latestOffset``
    advances to ``now - lag_seconds`` floored to the step grid, capped
    at the optional ``end`` (which makes bounded, deterministic test
    runs possible with ``availableNow``).  One InputPartition per time
    chunk per microbatch, carrying every query — the same
    scan-parallelism unit as the batch reader, so a live microbatch
    inside one chunk is ONE Python task.  A Python task costs about
    0.09 CPU-s of fixed set-up on a reused worker and about 0.7 CPU-s on
    a fresh one, whatever it reads (see the module docstring), more than
    one poll of every query takes.

    An error payload fails the task, so the microbatch fails before its
    offset is committed and a restart re-fetches the same range.
    Skipping it with zero rows, as the batch reader does, would commit
    past those grid points and never fetch them again.
    """

    fail_on_error = True

    def __init__(self, options):
        super().__init__(options)
        self.lag = int(options.get("lag_seconds", "0"))
        start_opt = options.get("start", "")
        self._start = self._align(
            _epoch(start_opt) if start_opt else self._now() - self.lag
        )
        end_opt = options.get("end", "")
        self._end_cap = _epoch(end_opt) if end_opt else None

    @staticmethod
    def _now() -> int:
        import time

        return int(time.time())

    def _align(self, t: int) -> int:
        # W3 step-aligned bounds: floor to the step grid anchored at 0
        return t - (t % self.step)

    def initialOffset(self) -> dict:
        return {"ts": self._start}

    def latestOffset(self) -> dict:
        target = self._now() - self.lag
        if self._end_cap is not None:
            target = min(target, self._end_cap)
        # exclusive end one step past the last fetchable grid point
        return {"ts": max(self._align(target) + self.step, self._start)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["ts"]), int(end["ts"]) - self.step
        if hi < lo:
            return []
        return self._plan(lo, hi)

    def commit(self, end: dict) -> None:
        pass  # offsets are recomputable; the file cache is the replay story


class PrometheusDataSource(DataSource):
    @classmethod
    def name(cls):
        return "prometheus"

    def schema(self):
        return (
            "metric string, series_idx int, ts timestamp, value double"
        )

    def reader(self, schema):
        return PrometheusReader(self.options)

    def streamReader(self, schema):
        return PrometheusStreamReader(self.options)
