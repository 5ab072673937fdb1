"""The two workloads, driven through the program's public entry points.

* ``batch_pipeline`` — the offline journey of the reference's Makefile:
  ``cli.cmd_collect`` against the stub, then ``cmd_preprocess``,
  ``cmd_train`` (LSTM) and ``cmd_filter`` on what collect wrote: the
  Prometheus source in bulk, align/fill/scale, windows, training and
  inference.
* ``realtime_detect`` — an open-loop ``readStream.format("prometheus")``
  into ``streaming.stateful`` with a ``foreachBatch`` sink that updates
  ``streaming.exporter`` gauges: incremental polls, operator state,
  micro-batch scheduling.

Each workload exposes ``warm()`` (one untimed pass, run during set-up),
``measure``, ``end_to_end`` for the untraced run and ``layer_metrics``
for the traced run.  Traced passes wrap the program's public functions in spans (see
``instrumented``) and materialise each result at the span boundary, so a
layer's self time is its own work.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

from prometheus_anomaly_detection_lstm_spark import cli
from prometheus_anomaly_detection_lstm_spark.config import EngineConfig
from prometheus_anomaly_detection_lstm_spark.ml import infer as infer_mod
from prometheus_anomaly_detection_lstm_spark.ml import lstm_train as lstm_train_mod
from prometheus_anomaly_detection_lstm_spark.ml import train as train_mod
from prometheus_anomaly_detection_lstm_spark.ml.lstm_np import LSTMAutoencoder
from prometheus_anomaly_detection_lstm_spark.operators import fill as fill_mod
from prometheus_anomaly_detection_lstm_spark.operators import scale as scale_mod
from prometheus_anomaly_detection_lstm_spark.sources.prometheus import PrometheusReader

from . import gen, oracle
from .stub import StubPrometheus
from .trace import job_group, spark_counts, tree_cpu_s


def iso(t: int) -> str:
    return datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q)) if len(xs) else 0.0


def mat(df):
    """Materialise a DataFrame at a span boundary (downstream reuses it)."""
    return df.localCheckpoint(eager=True)


class Ledger:
    """Attempted/failed operation counts and the first mismatches seen."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what and len(self.errors) < 20:
                self.errors.append(what)

    def check(self, errs: list[str]) -> None:
        self.record(not errs, "; ".join(errs))

    def stub(self, stub: StubPrometheus) -> None:
        """Count the stub's requests as operations, its non-2xx as failures."""
        with stub.lock:
            self.attempted += stub.requests
            self.failed += stub.non_2xx
            if stub.non_2xx:
                self.errors.append(f"stub: {stub.non_2xx} non-2xx answers")


@contextlib.contextmanager
def patched(*triples):
    """Temporarily replace module attributes: (module, name, factory(real))."""
    saved = [(m, n, getattr(m, n)) for m, n, _ in triples]
    try:
        for (m, n, wrap), (_, _, real) in zip(triples, saved):
            setattr(m, n, wrap(real))
        yield
    finally:
        for m, n, real in saved:
            setattr(m, n, real)


def instrumented(tracer, capture: dict):
    """Span + materialise each public function the CLI stages call.

    ``capture`` receives the collected train/validation tensors and the
    scored frames, which the output checks use.  With tracing off only
    the (free) tensor capture is installed.
    """

    def collect_windows(real):
        def f(windows):
            with tracer.span("ml.train.split_collect"):
                x = real(windows)
            capture.setdefault("collected", []).append(x)
            return x
        return f

    if not tracer.enabled:
        return patched((train_mod, "collect_windows", collect_windows))

    def spanned(name):
        def wrap(real):
            def f(*a, **kw):
                with tracer.span(name):
                    return mat(real(*a, **kw))
            return f
        return wrap

    def timed(name):
        def wrap(real):
            def f(*a, **kw):
                with tracer.span(name):
                    return real(*a, **kw)
            return f
        return wrap

    def metrics_wide(real):
        def f(long_df, *a, **kw):
            with tracer.span("sources.prometheus"):
                long_df = mat(long_df)
            with tracer.span("operators.align"):
                return mat(real(long_df, *a, **kw))
        return f

    def score(real):
        def f(*a, **kw):
            with tracer.span("ml.infer"):
                out = mat(real(*a, **kw))
            capture.setdefault("scored", []).append(out)
            return out
        return f

    return patched(
        (cli, "metrics_wide", metrics_wide),
        (fill_mod, "handle_missing_values", spanned("operators.fill")),
        (scale_mod, "fit_params", spanned("operators.scale")),
        (scale_mod, "scale_data", spanned("operators.scale")),
        (cli, "sequence_windows_scalable", spanned("operators.windows")),
        (train_mod, "train_val_split", timed("ml.train.split_collect")),
        (train_mod, "collect_windows", collect_windows),
        (lstm_train_mod, "train_lstm_autoencoder", timed("ml.lstm_train")),
        (train_mod, "fit_threshold", timed("ml.train.fit_threshold")),
        (infer_mod, "score_windows", score),
    )


# ---------------------------------------------------------------- batch_pipeline

class BatchPipeline:
    """collect -> preprocess -> train -> filter per pass, each pass in a
    fresh artifact directory (so collect is always cold).

    16 queries x 1 h of 10 s history in 1 h chunks: 16 source partitions,
    about 5.5k samples, 361 grid rows, 342 windows of 20; the LSTM trains
    a fixed 2 epochs (patience above it, so early stopping never fires).
    """

    STAGES = ("collect", "preprocess", "train", "filter")
    HOURS = 1
    STEP = 10
    MISSING = 0.05
    LENGTH = 20
    EPOCHS = 2
    PREDICT_BATCH = 256

    def __init__(self, ctx):
        self.ctx = ctx
        self.passes: list[dict] = []
        seed = ctx.seed
        self.n_series = lambda q: 2 if q % 4 == seed % 4 else 1  # exercises the first-series rule
        self.stub = StubPrometheus(seed, self.n_series, missing=self.MISSING)
        self.start = gen.HISTORY_START
        self.end = gen.HISTORY_START + self.HOURS * 3600
        t = time.perf_counter()
        self.want_wide = oracle.history_wide(
            seed, self.start, self.end, self.STEP, self.n_series, self.MISSING
        )
        self.want_processed = oracle.processed(self.want_wide)
        self.samples = int(self.want_wide[gen.ALIASES].notna().to_numpy().sum())
        self.windows = len(self.want_wide) - self.LENGTH + 1
        self.pandas_init_s = time.perf_counter() - t
        self.pandas_check_s: list[float] = []

    def close(self) -> None:
        self.stub.close()

    def config(self, art: str, end: int, epochs: int) -> EngineConfig:
        return EngineConfig(
            prometheus_url=self.stub.url,
            artifacts_dir=art,
            queries=dict(gen.QUERIES),
            collection_periods_iso=[{"start": iso(self.start), "end": iso(end)}],
            step_seconds=self.STEP,
            cache_chunk_hours=1.0,
            sequence_length=self.LENGTH,
            epochs=epochs,
            early_stopping_patience=epochs + 1,
            model_type="lstm",
        )

    def warm(self) -> None:
        """Untimed full-size collect and preprocess: the first calls pay
        most of the cold start (Python workers, JIT), and a smaller input
        does not lower it.  A measured cold pass spread far wider from run
        to run; warming train and filter too would lengthen every run by
        about 11 s more."""
        cfg = self.config(self.ctx.fresh("warm"), self.end, 1)
        cli.cmd_collect(cfg)
        cli.cmd_preprocess(cfg)

    def stage(self, name: str, cfg, p: dict, traced: bool) -> bool:
        """Run one CLI stage call, timed, under its own job group."""
        ctx = self.ctx
        label = f"cli.{name}#{ctx.tracer.pass_id}"
        fn = getattr(cli, f"cmd_{name}")
        cpu0 = tree_cpu_s()
        t0 = time.time()
        try:
            if traced:
                with ctx.tracer.span(f"cli.{name}"):
                    fn(cfg)
            else:
                with job_group(ctx.spark, label):
                    fn(cfg)
            ok = True
        except Exception as exc:  # a failed stage is counted, never hidden
            ok = False
            ctx.ledger.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
        t1 = time.time()
        p[f"{name}_cpu_s"] = tree_cpu_s() - cpu0
        if ok:
            ctx.ledger.record(True)
        p[f"{name}_s"] = t1 - t0
        p[f"{name}_wall"] = (t0, t1)
        p[f"{name}_label"] = label
        return ok

    def run_pass(self, i: int, traced: bool) -> dict:
        ctx = self.ctx
        cfg = self.config(ctx.fresh(f"pass{i}"), self.end, self.EPOCHS)
        self.stub.reset()
        capture: dict = {}
        p: dict = {"id": i, "traced": traced}
        with instrumented(ctx.tracer, capture):
            ok = p["ok"] = all(self.stage(name, cfg, p, traced) for name in self.STAGES)
        stub = self.stub
        with stub.lock:
            p.update(http_requests=stub.requests, http_mb=stub.bytes / 1e6,
                     server_busy_s=stub.busy_s)
        ctx.ledger.stub(stub)
        p["wall_s"] = sum(p.get(f"{name}_s", 0.0) for name in self.STAGES)
        if ok:
            t = time.perf_counter()
            ctx.ledger.check(self.check(cfg, capture))
            self.pandas_check_s.append(time.perf_counter() - t)
            self.weights_path = os.path.join(cfg.artifacts_dir, "autoencoder_weights.npz")
        if not traced and ok:
            for name in self.STAGES:
                p[f"{name}_spark"] = spark_counts(ctx.spark, p[f"{name}_label"], p[f"{name}_wall"])
        return p

    def check(self, cfg: EngineConfig, capture: dict) -> list[str]:
        art = cfg.artifacts_dir
        errs = oracle.check_collect(os.path.join(art, cfg.output_filename), self.want_wide)
        processed_path = os.path.join(art, cfg.processed_output_filename)
        errs += oracle.check_preprocess(processed_path, self.want_processed)
        if errs:
            return errs
        # train and filter read what preprocess wrote: window the same bytes
        frame = pd.read_parquet(processed_path).sort_values("ts", kind="stable")
        x_all = oracle.window_tensor(frame.reset_index(drop=True), self.LENGTH)
        errs, mse_all = oracle.check_train(art, x_all, capture.get("collected", []), self.EPOCHS)
        errs += oracle.check_filter(art, frame.reset_index(drop=True), x_all, mse_all)
        if capture.get("scored"):
            got = capture["scored"][-1].select("window_id", "mse").toPandas()
            errs += oracle.check_scores(got["window_id"].to_numpy(), got["mse"].to_numpy(), mse_all)
        self.x_all = x_all
        return errs

    def measure(self, seconds: float, trace: bool) -> None:
        """As many passes as fit in ``seconds`` at the mean pass time so
        far, at least one.  Traced runs alternate untraced and traced
        passes and run at least three, so the traced pass is compared with
        an untraced one that is not the first call of train and filter."""
        spent, i = 0.0, 0
        while i == 0 or spent + spent / i <= seconds or (trace and i < 3):
            traced = trace and i % 2 == 1
            self.ctx.tracer.pass_id = i
            self.ctx.tracer.enabled = traced
            p = self.run_pass(i, traced)
            self.passes.append(p)
            print(f"[perfbench] pass {i}{' traced' if traced else ''}: "
                  + ", ".join(f"{n} {p.get(f'{n}_s', 0.0):.2f} s ({p.get(f'{n}_cpu_s', 0.0):.2f} cpu s)"
                              for n in self.STAGES),
                  file=sys.stderr, flush=True)
            spent += p["wall_s"]
            i += 1
        self.ctx.tracer.enabled = False

    def untraced(self) -> list[dict]:
        """Untraced passes whose four stages all ran."""
        return [p for p in self.passes if not p["traced"] and p["ok"]]

    def end_to_end(self) -> dict:
        ps = self.untraced()
        return {
            "ingest_items_per_cpu_s": median(
                self.samples / (p["collect_cpu_s"] + p["preprocess_cpu_s"]) for p in ps
            ),
            "score_items_per_cpu_s": median(
                self.windows / (p["train_cpu_s"] + p["filter_cpu_s"]) for p in ps
            ),
        }

    def overhead(self) -> float:
        traced = [p["wall_s"] for p in self.passes if p["traced"]]
        return median(traced) - median(p["wall_s"] for p in self.untraced()[1:])

    def self_time(self, name: str) -> float:
        """Median over traced passes of the self time of ``name`` spans."""
        return median(self.ctx.tracer.self_times(name).values())

    def planned_partitions(self) -> int:
        return len(
            PrometheusReader(
                {
                    "queries_json": json.dumps(gen.QUERIES),
                    "start": iso(self.start),
                    "end": iso(self.end),
                    "step_seconds": str(self.STEP),
                    "chunk_hours": "1",
                }
            ).partitions()
        )

    def lstm_np_metrics(self) -> tuple[float, float]:
        """Direct predict on a fixed batch, and the analytic MFLOP/window."""
        with np.load(self.weights_path) as npz:
            w = {k: npz[k] for k in npz.files}
        model = LSTMAutoencoder(w)
        x = self.x_all[: self.PREDICT_BATCH]
        times = []
        for _ in range(3):
            t = time.perf_counter()
            model.predict(x)
            times.append(time.perf_counter() - t)
        flops = 0
        for layer in ("enc1", "enc2", "dec1", "dec2"):
            d_in, four_u = w[f"{layer}_W"].shape
            u = four_u // 4
            # fused matmuls (2 flop/mac) + gates and state update
            flops += self.LENGTH * (2 * (d_in + u) * four_u + 10 * u)
        flops += self.LENGTH * 2 * w["dense_W"].size
        return len(x) / median(times), flops / 1e6

    def layer_metrics(self) -> dict:
        ps = self.untraced()
        parts = self.planned_partitions()
        source_stages = [
            [w for w in p["collect_spark"]["stage_walls"] if w[0] == parts] for p in ps
        ]
        per_window, mflop = self.lstm_np_metrics()
        infer_tasks = [
            spark_counts(self.ctx.spark, f"ml.infer#{p['id']}")["tasks"]
            for p in self.passes if p["traced"]
        ]
        # input scans per window build: processed-frame rows read / rows
        reads = [
            (p["train_spark"]["input_records"] + p["filter_spark"]["input_records"]) / 2
            for p in ps
        ]
        out = {
            "sources.prometheus.partitions": parts,
            "sources.prometheus.tasks": median(sum(w[0] for w in s) for s in source_stages),
            "sources.prometheus.task_run_s": median(sum(w[2] for w in s) for s in source_stages),
            "sources.prometheus.read_s": self.self_time("sources.prometheus"),
            "sources.prometheus.http_requests": median(p["http_requests"] for p in ps),
            "sources.prometheus.http_mb": median(p["http_mb"] for p in ps),
            "sources.prometheus.server_busy_s": median(p["server_busy_s"] for p in ps),
            "operators.align.self_s": self.self_time("operators.align"),
            "cli.collect.write_s": self.self_time("cli.collect"),
            "operators.fill.self_s": self.self_time("operators.fill"),
            "operators.scale.self_s": self.self_time("operators.scale"),
            "cli.preprocess.write_s": self.self_time("cli.preprocess"),
            "operators.windows.self_s": self.self_time("operators.windows"),
            "operators.windows.executions": median(reads) / len(self.want_wide),
            "ml.train.split_collect_s": self.self_time("ml.train.split_collect"),
            "ml.train.fit_threshold_s": self.self_time("ml.train.fit_threshold"),
            "ml.lstm_train.epoch_s": self.self_time("ml.lstm_train") / self.EPOCHS,
            "ml.infer.score_s": self.self_time("ml.infer"),
            "ml.infer.tasks": median(infer_tasks),
            "ml.lstm_np.windows_per_s": per_window,
            "ml.lstm_np.mflop_per_window": mflop,
            "reference.pandas_s": self.pandas_init_s + median(self.pandas_check_s),
        }
        for name in self.STAGES:
            counts = [p[f"{name}_spark"] for p in ps]
            out[f"cli.{name}.wall_s"] = median(p[f"{name}_s"] for p in ps)
            for k in ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_mb", "spill_mb", "sched_gap_s"):
                out[f"cli.{name}.{k}"] = median(c[k] for c in counts)
        return out


# ---------------------------------------------------------------- realtime_detect

class RealtimeDetect:
    """16 queries x 32 detector series on a 1 s grid, L = 20, a 6 s
    processing-time trigger.  Spark fires such a trigger on multiples of
    the interval since the epoch and the source reads up to wall clock,
    so each on-time batch carries exactly 6 s of samples (3,072 rows); on a
    4-vCPU box it takes 3-4 s of the interval, so the load is sustainable
    and the CPU a batch costs is the program's cost for a fixed amount of
    data.

    The stream starts ``BACKFILL_S`` in the past (so the first batch
    already holds full windows) and runs at least ``LEAD_IN_S``; the
    measured window then spans a whole number of triggers, from one
    trigger boundary to another, and the source's ``end`` option caps the
    stream there, so it goes idle before it is stopped.  A detector runs
    for as long as it is up, so an untimed warm-up stream pays the cold
    start first."""

    SERIES = 32
    LENGTH = 20
    TRIGGER_S = 6
    THRESHOLD = 0.0013
    BACKFILL_S = 22
    LEAD_IN_S = 14

    def __init__(self, ctx):
        self.ctx = ctx
        self.stub = StubPrometheus(ctx.seed, lambda q: self.SERIES, live=True)
        self.results: list[tuple] = []
        self.batches: list[dict] = []
        self.progress: list = []
        self.pandas_s = 0.0

    def close(self) -> None:
        self.stub.close()

    def stream(self, url: str, queries: dict, start: int, end: int):
        from pyspark.sql import functions as F

        from prometheus_anomaly_detection_lstm_spark.streaming.stateful import (
            stateful_detector_stream,
        )

        src = (
            self.ctx.spark.readStream.format("prometheus")
            .option("url", url)
            .option("queries_json", json.dumps(queries))
            .option("start", iso(start))
            .option("end", iso(end))
            .option("step_seconds", "1")
            .option("chunk_hours", "1")
            .option("first_series_only", "false")
            .load()
            .select(
                F.col("series_idx").cast("string").alias("detector_id"),
                "ts", "metric", "value",
            )
        )
        return stateful_detector_stream(src, sorted(queries), self.LENGTH, self.THRESHOLD)

    def warm(self) -> None:
        """A bounded availableNow run over one full window of past data
        from a 1-series stub: the cold start costs the same at any size."""
        stub = StubPrometheus(self.ctx.seed + 1, lambda q: 1)
        try:
            now = int(time.time())
            queries = {a: gen.QUERIES[a] for a in gen.ALIASES[:1]}
            q = (
                self.stream(stub.url, queries, now - 30 - self.LENGTH, now - 30)
                .writeStream.foreachBatch(lambda df, eid: df.collect())
                .trigger(availableNow=True)
                .option("checkpointLocation", self.ctx.fresh("warm"))
                .start()
            )
            q.awaitTermination(120)
            if q.exception() is not None:
                raise RuntimeError(f"warm-up stream failed: {q.exception()}")
        finally:
            stub.close()

    def measure(self, seconds: float, trace: bool) -> None:
        from prometheus_anomaly_detection_lstm_spark.streaming.exporter import DetectorMetrics

        ctx = self.ctx
        exporter = DetectorMetrics()
        created = int(time.time())
        every = self.TRIGGER_S
        first = -(-(created + self.LEAD_IN_S) // every) * every
        cap = first + every * max(1, round(seconds / every))
        self.window = (first, cap)

        def sink(df, epoch_id):
            rows = df.collect()
            received = time.time()
            cpu = tree_cpu_s()
            t = time.perf_counter()
            for r in rows:
                if r.window_end is None:
                    continue
                exporter.latest_mse.set(r.mse)
                exporter.is_anomaly.set(r.is_anomaly)
                exporter.window_points.set(r.n_points)
                if r.is_anomaly:
                    exporter.total_anomalies.inc()
            exporter.last_success.set_to_current_time()
            exporter.exposition()
            update_s = time.perf_counter() - t
            self.batches.append(
                {"id": int(epoch_id), "received": received, "rows": len(rows),
                 "cpu_s": cpu, "update_s": update_s}
            )
            for r in rows:
                end = None
                if r.window_end is not None:
                    end = int(r.window_end.replace(tzinfo=timezone.utc).timestamp())
                self.results.append(
                    (r.detector_id, end, r.mse, r.is_anomaly, r.n_points, received)
                )

        self.stream_start = created - self.BACKFILL_S
        ended = Terminations()
        ctx.spark.streams.addListener(ended)
        q = (
            self.stream(self.stub.url, dict(gen.QUERIES), self.stream_start, cap)
            .writeStream.foreachBatch(sink)
            .trigger(processingTime=f"{self.TRIGGER_S} seconds")
            .option("checkpointLocation", ctx.fresh("checkpoint"))
            .start()
        )
        try:
            requests_at = None
            while time.time() < cap or not self._reached(cap):
                if q.exception() is not None or time.time() > cap + 60:
                    break
                if requests_at is None and time.time() >= self.window[0]:
                    requests_at = self.stub.requests
                time.sleep(0.2)
            self.window_requests = self.stub.requests - (requests_at or 0)
            idle_by = time.time() + 30
            while q.status["isTriggerActive"] and time.time() < idle_by:
                time.sleep(0.05)
        finally:
            q.stop()
        # an error the stream thread raises while stopping reaches only
        # the listener bus: count it, never hide it
        ended.wait(10)
        ctx.spark.streams.removeListener(ended)
        for exc in [q.exception()] + ended.errors:
            ctx.ledger.record(exc is None, f"stream: {exc}")
        measured = {b["id"] for _, b in self.cycles()}
        self.progress = [p for p in q.recentProgress if p.batchId in measured]
        started = {p.batchId: (p.timestamp, p.numInputRows) for p in q.recentProgress}
        for b in self.batches:
            stamp, rows_in = started.get(b["id"], ("?", 0))
            print(f"[perfbench] batch {b['id']} started {stamp}: {rows_in} rows in, "
                  f"{b['rows']} out, received at window start {b['received'] - self.window[0]:+.2f} s",
                  file=sys.stderr, flush=True)
        ctx.ledger.attempted += len(self.batches)
        ctx.ledger.stub(self.stub)
        t = time.perf_counter()
        valid = [r for r in self.results if r[1] is not None]
        ctx.ledger.check(
            oracle.check_detections(
                ctx.seed, self.SERIES, self.LENGTH, self.THRESHOLD,
                [r[:5] for r in valid if r[1] > self.window[0]],
            )
            + [f"detect: {len(self.results) - len(valid)} results without a full window"]
            * (len(valid) != len(self.results))
            + oracle.check_coverage(self.stub.log, len(gen.QUERIES), self.stream_start, cap)
        )
        self.pandas_s = time.perf_counter() - t

    def _reached(self, cap: int) -> bool:
        return any(r[1] == cap for r in self.results[-self.SERIES:])

    def measured(self) -> list[tuple]:
        return [r for r in self.results if r[1] is not None and r[1] > self.window[0]]

    def cycles(self) -> list[tuple[dict, dict]]:
        """(previous batch, batch) for each batch that emitted measured
        results: one whole trigger cycle, sink call to sink call."""
        ends = [r[1] for r in self.measured()]
        if not ends:
            return []
        return [
            (prev, b) for prev, b in zip(self.batches, self.batches[1:])
            if b["rows"] and b["received"] > min(ends)
        ]

    def end_to_end(self) -> dict:
        # each on-time batch carries one trigger interval of samples, so
        # rows per wall second would read the offered rate: divide by the
        # CPU time of the process tree over whole cycles instead
        cycles = self.cycles()
        cpu_s = sum(b["cpu_s"] - prev["cpu_s"] for prev, b in cycles)
        if cpu_s <= 0:  # nothing measured: the output check has failed the run
            return {"ingest_items_per_cpu_s": 0.0, "score_items_per_cpu_s": 0.0}
        input_rows = {p.batchId: p.numInputRows for p in self.progress}
        return {
            "ingest_items_per_cpu_s": sum(input_rows.get(b["id"], 0) for _, b in cycles) / cpu_s,
            "score_items_per_cpu_s": sum(b["rows"] for _, b in cycles) / cpu_s,
        }

    def overhead(self) -> float:
        """Nothing is traced on this workload: a traced run reads the same
        progress reports and timestamps as an untraced one."""
        return 0.0

    def backlog(self) -> float:
        """Lag of the newest emitted window_end behind its receipt, last
        measured batch minus first: about 0 when the load is sustainable."""
        lag: dict[float, int] = {}
        for r in self.measured():
            lag[r[5]] = max(lag.get(r[5], r[1]), r[1])
        if not lag:
            return 0.0
        first, last = min(lag), max(lag)
        return (last - lag[last]) - (first - lag[first])

    def layer_metrics(self) -> dict:
        prog = self.progress

        def dur(key):
            return median(p.durationMs.get(key, 0) for p in prog)

        def state(attr):
            return [getattr(p.stateOperators[0], attr) for p in prog if p.stateOperators]

        latency = [r[5] - r[1] for r in self.measured()]
        return {
            "sources.prometheus.stream_fetches": self.window_requests,
            "streaming.latest_offset_ms_p50": dur("latestOffset"),
            "streaming.stateful.state_rows": median(state("numRowsTotal")),
            "streaming.stateful.state_mb": median(state("memoryUsedBytes")) / 1e6,
            "streaming.stateful.update_ms_p50": median(state("allUpdatesTimeMs")),
            "streaming.stateful.commit_ms_p50": median(state("commitTimeMs")),
            "streaming.batches": len(prog),
            "streaming.trigger_ms_p50": dur("triggerExecution"),
            "streaming.add_batch_ms_p50": dur("addBatch"),
            "streaming.query_planning_ms_p50": dur("queryPlanning"),
            "streaming.wal_commit_ms_p50": dur("walCommit"),
            "streaming.results": len(self.measured()),
            "streaming.latency_p50_s": pct(latency, 50),
            "streaming.latency_p90_s": pct(latency, 90),
            "streaming.backlog_s": self.backlog(),
            "streaming.exporter.update_s": median(b["update_s"] for _, b in self.cycles()),
            "reference.pandas_s": self.pandas_s,
        }


class Terminations(StreamingQueryListener):
    """Keeps each terminated query's error."""

    def __init__(self):
        self.errors: list = []
        self.done = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.errors.append(event.exception)
        self.done.set()

    def wait(self, timeout: float) -> None:
        if not self.done.wait(timeout):
            self.errors.append("no termination event within the timeout")


WORKLOADS = {
    "batch_pipeline": BatchPipeline,
    "realtime_detect": RealtimeDetect,
}
