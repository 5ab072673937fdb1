"""parallelize_if_underpartitioned: local fix without the at-scale tax.

Round-3 verdict findings #2/#4: the shingle/embedding producers used an
UNCONDITIONAL repartition — right for the single-row-group local files,
a full-data exchange tax on a well-split lake.  The shared gate must
(a) still parallelize the local scan, (b) pass a well-split scan
through untouched, and (c) never run a Spark job just to decide.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.io_tables import (
    load_table,
    parallelize_if_underpartitioned,
)
from .conftest import SF_SMALL


def test_local_single_file_scan_gets_parallelized(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    out = parallelize_if_underpartitioned(docs, "doc_id")
    n = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == n
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()


def test_well_split_scan_passes_through(spark, tmp_path):
    # Write the same table as MANY files — the well-split lake shape.
    docs = load_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "split_docs")
    docs.repartition(16).write.mode("overwrite").parquet(path)
    split = spark.read.parquet(path)
    assert len(split.inputFiles()) >= 16
    out = parallelize_if_underpartitioned(split, "doc_id")
    assert out is split  # identical object — no exchange inserted


def test_projection_and_filter_keep_the_gate_decision(spark, tmp_path):
    # Scan-rooted frames with row-level ops still gate off the scan.
    docs = load_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "split_docs2")
    docs.repartition(8).write.mode("overwrite").parquet(path)
    split = spark.read.parquet(path).filter(F.col("doc_id") >= 0).select("doc_id")
    out = parallelize_if_underpartitioned(split, "doc_id", min_partitions=4)
    assert out is split


def test_explicit_threshold(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    # One local file => estimate 1; any threshold <= 1 passes through.
    assert parallelize_if_underpartitioned(docs, "doc_id", min_partitions=1) is docs


def test_dedup_and_similarity_producers_use_the_gate():
    # The two round-3 findings cite these producers by name; pin that the
    # unconditional repartition is gone from their source.
    import inspect

    from prometheus_anomaly_detection_lstm_spark.operators import dedup, similarity

    src_d = inspect.getsource(dedup._shingles_raw)
    src_s = inspect.getsource(similarity._emb)
    for src in (src_d, src_s):
        assert "parallelize_if_underpartitioned" in src
        assert ".repartition(" not in src


def test_streaming_frame_passes_through(spark, tmp_path):
    # Round-9: the gate now guards streaming frames explicitly — a
    # readStream source has no static partitioning to inspect
    # (inputFiles()/.rdd both raise on unresolved streaming plans), so
    # it must pass through UNTOUCHED instead of crashing the builder.
    src = str(tmp_path / "stream_src")
    load_table(spark, SF_SMALL, "documents").write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    assert stream.isStreaming
    out = parallelize_if_underpartitioned(stream, "doc_id")
    assert out is stream  # identical object — untouched

