"""CLI mirroring the reference's subcommands (cli.py:22-36):

    collect     Prometheus range scan -> aligned wide parquet   (§3.1)
    preprocess  NaN strategy + scaler -> processed parquet      (§3.2)
    train       windows -> autoencoder + threshold artifacts    (§3.3)
    filter      score all windows, split normal/anomalous       (filter_anomalous_data)
    detect      streaming detector + exporter                   (§3.4)

Unlike the reference (subprocess per stage, cli.py:7-12), stages here
are library calls sharing one SparkSession — no process boundary, one
Catalyst-planned job graph per stage.

``train`` and ``filter`` each build the sequence windows once, as the
reference builds its window tensor once per script
(train_autoencoder.py:61-74, filter_anomalous_data.py:57-67): the
windows frame is cut with ``functions.checkpoint.cut_lineage`` and every
consumer reads that one frame.  ``train`` collects the train and
validation tensors and takes the p95 threshold in NumPy, from the
trained model's per-window MSE over the validation tensor it already
holds.  ``filter`` reads the weights ``train`` wrote with
``ml.autoencoder.load_model`` (the stub when there are none), scores
the cut frame once and writes both splits from one cut (window,
is_anomaly) frame.  Both stages take the errors from
``ml.autoencoder.reconstruction_errors``, as the detectors do.
``preprocess`` fits its scaler once (preprocess_data.py:85-100): one
``fit_params`` aggregation over the cut filled frame, collected;
``scaler_params.parquet`` and the scaled frame (a literal projection of
the cut frame) both come from those rows.
Every stage releases the blocks of the frames it cuts when it returns,
so a long-lived session does not pile them up.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
from pyspark.sql import functions as F

from .config import EngineConfig, load_config, validate_periods
from .operators import fill as fill_ops
from .operators import scale as scale_ops
from .operators.align import metrics_wide
from .operators.windows import sequence_windows_scalable
from .functions import hour_of_day, weekday_mon0
from .functions.checkpoint import cut_lineage, release_checkpoints
from .session import get_spark
from .shipping import ensure_shipped
from .sources.prometheus import PrometheusDataSource


def _art(cfg: EngineConfig, name: str) -> str:
    os.makedirs(cfg.artifacts_dir, exist_ok=True)
    return os.path.join(cfg.artifacts_dir, name)


def cmd_collect(cfg: EngineConfig) -> None:
    spark = get_spark("collect")
    # the source's reader runs on Python workers, which import it by
    # module path: ship the package before the first read
    ensure_shipped(spark)
    spark.dataSource.register(PrometheusDataSource)
    periods = validate_periods(cfg.collection_periods_iso)
    frames = []
    for idx, p in enumerate(periods):
        long_df = (
            spark.read.format("prometheus")
            .option("url", cfg.prometheus_url)
            .option("queries_json", json.dumps(cfg.queries))
            .option("start", p["start"])
            .option("end", p["end"])
            .option("step_seconds", str(cfg.step_seconds))
            .option("chunk_hours", str(cfg.cache_chunk_hours))
            .option("cache_dir", _art(cfg, "prom_cache"))
            .load()
            .withColumn("period_idx", F.lit(idx))
        )
        frames.append(long_df)
    if not frames:
        raise SystemExit("no valid collection periods configured")
    from functools import reduce

    all_long = reduce(lambda a, b: a.unionByName(b), frames)
    # provenance order for keep-first dedup across periods (U3/H4)
    ordered = all_long.withColumn(
        "seq", F.col("period_idx").cast("bigint") * 1_000_000_000 + F.unix_timestamp("ts")
    ).select("ts", F.col("metric"), "value", "seq")
    wide = metrics_wide(ordered, sorted(cfg.queries), step=None)
    wide = wide.withColumn("day_of_week", weekday_mon0("ts")).withColumn(
        "hour_of_day", hour_of_day("ts")
    )
    wide.orderBy("ts").write.mode("overwrite").parquet(
        _art(cfg, cfg.output_filename)
    )


def cmd_preprocess(cfg: EngineConfig, input_path: str | None = None) -> None:
    spark = get_spark("preprocess")
    path = input_path or _art(cfg, cfg.output_filename)
    df = spark.read.parquet(path)
    metric_cols = [c for c in sorted(cfg.queries) if c in df.columns] or [
        c
        for c in df.columns
        if c not in ("ts", "day_of_week", "hour_of_day")
    ]
    df = fill_ops.handle_missing_values(df, metric_cols, cfg.nan_fill_strategy)
    # calendar features re-appended idempotently (preprocess_data.py:167-168)
    df = df.withColumn("day_of_week", weekday_mon0("ts")).withColumn(
        "hour_of_day", hour_of_day("ts")
    )
    features = metric_cols + ["day_of_week", "hour_of_day"]
    # the fill moves the metrics last; train windows the file's column
    # order, so restore the collected one: metrics, then calendar
    df = cut_lineage(df.select(*[c for c in df.columns if c not in features], *features))
    try:
        params = scale_ops.fit_params(df, features)
        rows = params.collect()
        # one file, as the aggregation's single partition wrote it
        spark.createDataFrame(rows, params.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(_art(cfg, "scaler_params.parquet"))
        scaled = scale_ops.scale_data(df, features, cfg.scaler_type, rows)
        scaled.write.mode("overwrite").parquet(
            _art(cfg, cfg.processed_output_filename)
        )
    finally:
        release_checkpoints([df])


def cmd_train(cfg: EngineConfig, input_path: str | None = None) -> None:
    from .ml.autoencoder import reconstruction_errors
    from .ml.train import (
        collect_windows,
        save_artifacts,
        train_linear_autoencoder,
        train_val_split,
    )

    spark = get_spark("train")
    path = input_path or _art(cfg, cfg.processed_output_filename)
    df = spark.read.parquet(path)
    features = [c for c in df.columns if c != "ts"]
    windows = cut_lineage(sequence_windows_scalable(df, features, cfg.sequence_length))
    try:
        train_df, val_df = train_val_split(windows, cfg.train_split_ratio)
        x_train = collect_windows(train_df)
        x_val = collect_windows(val_df)
    finally:
        release_checkpoints([windows])
    if cfg.model_type == "lstm":
        from .ml.lstm_train import train_lstm_autoencoder

        model, history = train_lstm_autoencoder(
            x_train,
            epochs=cfg.epochs,
            lr=cfg.learning_rate,
            patience=cfg.early_stopping_patience,
            val=x_val,
        )
    else:
        model, history = train_linear_autoencoder(
            x_train,
            epochs=cfg.epochs,
            patience=cfg.early_stopping_patience,
            val=x_val,
        )
    # the persisted threshold must describe the SAME model as the
    # persisted weights: p95 of the trained model's per-window MSE over
    # the validation tensor (every window when validation is empty);
    # np.percentile interpolates linearly, as Spark's exact percentile
    held = x_val if x_val.size else x_train
    mse, _ = reconstruction_errors(model, held)
    threshold = float(np.percentile(mse, 95))
    save_artifacts(cfg.artifacts_dir, model, history, threshold)


def cmd_filter(cfg: EngineConfig, input_path: str | None = None) -> None:
    from .ml.autoencoder import AffineAutoencoder, load_model
    from .ml.infer import score_windows

    spark = get_spark("filter")
    path = input_path or _art(cfg, cfg.processed_output_filename)
    df = spark.read.parquet(path)
    features = [c for c in df.columns if c != "ts"]
    # prefer the threshold fitted by `train` (p95 of validation errors,
    # training_meta.json) over the hand-tuned config constant — the
    # reference documents this practice but leaves it manual
    # (config.yaml:113-118)
    threshold = cfg.anomaly_threshold_mse
    meta_path = os.path.join(cfg.artifacts_dir, "training_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            threshold = json.load(fh).get("threshold", threshold)
    # score with the trained weights when the train stage ran (the
    # threshold from training_meta.json describes THAT model); fall
    # back to the deterministic stub otherwise.  load_model reads the
    # file here on the driver, so a foreign or truncated file fails
    # before any task runs.
    weights_path = os.path.join(cfg.artifacts_dir, "autoencoder_weights.npz")
    if os.path.exists(weights_path):
        model = load_model(weights_path)
        factory = lambda: model  # noqa: E731
    else:
        factory = AffineAutoencoder
    windows = cut_lineage(sequence_windows_scalable(df, features, cfg.sequence_length))
    cuts = [windows]
    try:
        scored = score_windows(windows, factory).withColumn(
            "is_anomaly",
            (F.col("mse") > F.lit(threshold)).cast("int"),
        )
        # both writes read one cut: each would otherwise rerun the
        # scoring (and, without the cut above, the window build)
        split = cut_lineage(
            windows.join(scored.select("window_id", "is_anomaly"), "window_id")
        )
        cuts.append(split)
        for name, flag in (
            ("normal_sequences.parquet", 0),
            ("anomalous_sequences.parquet", 1),
        ):
            split.filter(F.col("is_anomaly") == flag).write.mode(
                "overwrite"
            ).parquet(_art(cfg, name))
    finally:
        release_checkpoints(cuts)


def cmd_detect(cfg: EngineConfig) -> None:  # pragma: no cover - needs live prom
    raise SystemExit(
        "detect requires a live Prometheus; the one detector core, streaming/stateful."
        "merge_ring + score_ring, serves stateful_detector_stream and "
        "streaming/detector.run_detector_on_batch (a foreachBatch body)"
    )


def cmd_query(
    expr: str, samples_dir: str, output: str | None = None
) -> None:
    """Run a PromQL string (the reference's config.yaml query format)
    against a parquet sample table (ts, value, seq, metric[, labels])
    — the in-engine replacement for shipping the string to a live
    Prometheus (data_collector.py:41-48)."""
    from .operators.promql_lang import eval_promql
    from .session import get_spark

    spark = get_spark("promql-query")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = eval_promql(expr, spark.read.parquet(samples_dir))
    if output:
        out.write.mode("overwrite").parquet(output)
    else:
        out.orderBy(*[c for c in out.columns if c != "value"]).show(
            50, truncate=False
        )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="prometheus-ad-spark")
    ap.add_argument(
        "command",
        choices=["collect", "preprocess", "train", "filter", "detect", "query"],
    )
    ap.add_argument("--config", default=None)
    ap.add_argument("--input", default=None)
    ap.add_argument("--expr", default=None, help="PromQL string for `query`")
    ap.add_argument("--output", default=None, help="parquet sink for `query`")
    args = ap.parse_args(argv)
    if args.command == "query":
        if not args.expr or not args.input:
            raise SystemExit("query requires --expr and --input <samples dir>")
        cmd_query(args.expr, args.input, args.output)
        return
    cfg = load_config(args.config)
    if args.command == "collect":
        cmd_collect(cfg)
    elif args.command == "preprocess":
        cmd_preprocess(cfg, args.input)
    elif args.command == "train":
        cmd_train(cfg, args.input)
    elif args.command == "filter":
        cmd_filter(cfg, args.input)
    else:
        cmd_detect(cfg)


if __name__ == "__main__":
    main()
