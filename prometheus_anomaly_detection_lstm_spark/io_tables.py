"""Canonical testdata table loader.

The driver-generated parquet stores timestamps as INT64
TIMESTAMP(NANOS) which Spark's vectorized reader rejects.  We read them
via the legacy nanos-as-long mode and convert to microsecond timestamps
with exact integer division (``div`` keeps the arithmetic in LONG —
a double division would lose precision at 1e18 nanoseconds).
Truncation toward zero matches DuckDB's TIMESTAMP_NS -> TIMESTAMP cast,
keeping oracle parity.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: nanosecond-timestamp columns per table.
TS_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: Memoized (session, dir, table) -> analyzed DataFrame.  A managed
#: catalog caches each table's file index + schema once; path-based
#: reads re-list and re-infer on EVERY ``spark.read.parquet`` —
#: ~80-130 ms of driver latency per table per query submission.  The
#: driver-generated testdata is immutable for the process lifetime, so
#: reusing the analyzed frame is exactly the catalog behavior a real
#: deployment gets from ``saveAsTable``.  Keyed on the session OBJECT
#: (identity hash) so a replacement session never sees frames built
#: against a dead one.
_TABLE_MEMO: dict[tuple[SparkSession, str, str], DataFrame] = {}

#: Only these roots are known-immutable; anything else (tmp dirs the
#: tests rewrite, user lakes) always re-reads.
_MEMO_ROOTS = ("/root/testdata/",)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    memo_key = None
    if any(sf_dir.startswith(r) for r in _MEMO_ROOTS):
        memo_key = (spark, sf_dir.rstrip("/"), name)
        cached = _TABLE_MEMO.get(memo_key)
        if cached is not None:
            return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    if memo_key is not None:
        _TABLE_MEMO[memo_key] = df
    return df


#: fact table -> key columns :func:`replicate` offsets per copy; every
#: other table is a dimension and is not replicated.
REPLICA_KEYS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: per-copy key offset, far above any generated key
REPLICA_KEY_OFFSET = 1_000_000_000
#: per-copy events ``ts`` shift: copies tile a contiguous longer series
REPLICA_TS_SHIFT_DAYS = 30


def span_days(events: DataFrame) -> int | None:
    """Calendar days between an events frame's first and last ``ts``."""
    return events.agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("d")
    ).collect()[0]["d"]


def replicate(base: DataFrame, name: str, copies: int) -> DataFrame:
    """``copies`` distinct-key copies of table ``name``, unioned — the
    one scale-up recipe for sf1 artifacts and growth runs.

    Copy k offsets the table's :data:`REPLICA_KEYS` by
    k·:data:`REPLICA_KEY_OFFSET`, so join fan-outs and group
    cardinalities grow instead of duplicating.  Events copies are also
    shifted by k·:data:`REPLICA_TS_SHIFT_DAYS` days (series grow in
    time), and document copies k > 0 get a ``" copyvariant{k}"`` text
    suffix (near-, not exact-duplicates).  Dimension tables come back
    unchanged.

    Raises ``ValueError`` if an events base spans as many days as the
    shift: overlapping copies would change the pivot's keep-first
    semantics.
    """
    keys = REPLICA_KEYS.get(name)
    if keys is None:
        return base
    if name == "events" and copies > 1:
        span = span_days(base)
        if span is None or span >= REPLICA_TS_SHIFT_DAYS:
            raise ValueError(
                f"replicate(events) assumes the base spans < "
                f"{REPLICA_TS_SHIFT_DAYS} days; measured {span}"
            )

    def copy(k: int) -> DataFrame:
        c = base
        for key in keys:
            c = c.withColumn(key, F.col(key) + F.lit(k * REPLICA_KEY_OFFSET))
        if name == "events":
            c = c.withColumn(
                "ts",
                F.col("ts")
                + F.expr(f"INTERVAL {k * REPLICA_TS_SHIFT_DAYS} DAYS"),
            )
        if name == "documents" and k > 0:
            c = c.withColumn(
                "text", F.concat(F.col("text"), F.lit(f" copyvariant{k}"))
            )
        return c

    return functools.reduce(
        DataFrame.unionByName, [copy(k) for k in range(copies)]
    )


def write_replica(
    spark: SparkSession, src_dir: str, dst_dir: str, name: str, copies: int
) -> None:
    """Write table ``name`` of ``src_dir`` to ``dst_dir`` as
    :func:`replicate`'s ``copies`` copies: a fact table in 16 files, a
    dimension table as read."""
    df = load_table(spark, src_dir, name)
    if name in REPLICA_KEYS:
        df = replicate(df, name, copies).repartition(16)
    df.write.mode("overwrite").parquet(f"{dst_dir}/{name}.parquet")


def events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> (metric, ts, seq, value): THE shared sample-stream
    adapter (event_type is the series label) used by the promql/
    mining/robust/matrix-profile families — one definition so a schema
    change can't silently diverge across plans.  Pins the session TZ to
    UTC like every metric-family query wrapper."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"),
        "ts",
        F.col("event_id").alias("seq"),
        "value",
    )


def parallelize_if_underpartitioned(
    df: DataFrame,
    *key_cols: str,
    min_partitions: int | None = None,
) -> DataFrame:
    """Hash-repartition ``df`` by ``key_cols`` ONLY when the scan is
    under-split — the local single-row-group parquet fix without the
    at-scale tax.

    The local testdata files are one row group each, so the scan — and
    with it any CPU-heavy map stage (shingle explode+md5, per-vector
    float kernels) — runs as ONE task.  A hash repartition on the
    per-row key parallelizes the map work AND satisfies downstream
    per-key aggregations' ClusteredDistribution, so no second exchange
    appears.  On a real lake the input arrives pre-split into hundreds
    of tasks; there the same repartition would insert an unconditional
    full-data exchange on every run (round-3 verdict finding #2), so it
    is gated: only fire when the current partition count is below half
    the session's core count (i.e. the scan genuinely can't feed the
    cores).  ``min_partitions=None`` derives the threshold from
    ``defaultParallelism``; pass an explicit value to tune.

    Contract: ``df`` must be a SCAN-ROOTED frame (a read plus row-level
    projections/filters, no prior repartition) — the estimate comes from
    the scan's file listing, which ``inputFiles()`` traces through any
    later repartition, so a pre-shuffled frame would be re-exchanged.
    Both call sites (shingle and embedding producers) pass raw scans.
    """
    if df.isStreaming:  # no static partitioning to inspect
        return df
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    threshold = max(2, n // 2) if min_partitions is None else min_partitions
    if _estimated_scan_partitions(df) >= threshold:
        return df
    return df.repartition(n, *key_cols)


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate the scan's task count WITHOUT running a job.

    ``df.rdd.getNumPartitions()`` forces physical planning (and under
    AQE can run a job) — measured ~0.2 s per call, real money on the
    bench hot path.  Instead: ``inputFiles()`` is a metadata-only
    listing; each file yields at least one task, and a local file larger
    than ``spark.sql.files.maxPartitionBytes`` splits into
    ``ceil(size / maxPartitionBytes)``.  Non-local / non-statable inputs
    count as one task per file — a LOWER bound, so the gate can only
    over-parallelize (harmless locally), never skip a needed fix.
    Frames with no scan lineage (in-memory, post-shuffle) fall back to
    the exact ``.rdd`` count.
    """
    import os

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"
    ).strip().lower()
    # accept every documented form (134217728, 128m, 128mb, 1g...);
    # an unparsable value falls back to the default instead of
    # crashing every scan-producer that consults the gate
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    try:
        body = raw.removesuffix("b")
        if body and body[-1] in mult:
            max_bytes = int(float(body[:-1]) * mult[body[-1]])
        else:
            max_bytes = int(body)
    except ValueError:
        max_bytes = 134217728
    total = 0
    for f in files:
        local = f.removeprefix("file:")
        if os.path.exists(local):
            total += max(1, -(-os.path.getsize(local) // max_bytes))
        else:
            total += 1
    return total


def write_day_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    mode: str = "overwrite",
) -> None:
    """Write a time-series frame as day-partitioned parquet — the
    standard lake layout (``path/__day=YYYY-MM-DD/...``).

    Partitioning by calendar day turns any day-range predicate into
    PARTITION PRUNING at read time: a query over one week of a 100-TB
    year touches ~2% of the files before a single row group is opened
    (the scan plan shows it as ``PartitionFilters``).  The partition
    column is derived, so the original ``ts_col`` stays intact in the
    data files.
    """
    (
        df.withColumn("__day", F.to_date(F.col(ts_col)))
        .write.mode(mode)
        .partitionBy("__day")
        .parquet(path)
    )


def read_day_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a :func:`write_day_partitioned` dataset; ``__day`` comes
    back as a partition column usable in pruning predicates."""
    return spark.read.parquet(path)


def _count_local_files(path: str) -> int:
    """Parquet file count under a LOCAL path; raises on URI schemes
    other than file: (os.walk would silently yield 0 for s3:// etc.,
    making the returned before/after stats garbage)."""
    import os

    local = path.removeprefix("file:")
    if "://" in local:
        raise ValueError(
            f"compact stats need a local path, got {path!r} — run the "
            "compaction and count files with the object store's API"
        )
    return sum(
        1
        for _, _, files in os.walk(local)
        for f in files
        if f.endswith(".parquet")
    )


def compact_day_partitions(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-file compaction for a day-partitioned lake dataset.

    Streaming ingestion writes one file per microbatch per day; after a
    week a 100-TB lake has millions of KB-sized files and every scan
    pays an open/seek per file.  Compaction rewrites each day into
    ``ceil(day_rows / target_rows_per_file)`` files.

    Scale shape: per-day row counts come from ONE metadata-cheap agg
    over the partition column (no data columns read thanks to column
    pruning); the rewrite itself repartitions by (day, file_slot) so
    each output file is written by exactly one task — no global sort,
    no driver-side file listing loops, and days compact independently
    (a skewed day gets more slots, it cannot serialize the others).

    Returns {"files_before": n, "files_after": m} so callers/tests can
    assert the compaction actually bin-packed.
    """
    import math
    import os

    df = spark.read.parquet(path)
    counts = {
        r["__day"]: r["n"]
        for r in df.groupBy("__day").count().withColumnRenamed("count", "n").collect()
    }  # one row per DAY — metadata scale, bounded by the calendar
    slots = {
        d: max(1, math.ceil(n / target_rows_per_file)) for d, n in counts.items()
    }
    slot_map = F.create_map(
        *[x for d, k in slots.items() for x in (F.lit(str(d)), F.lit(k))]
    )
    before = _count_local_files(path)
    total_slots = sum(slots.values())
    (
        df.withColumn(
            "__slot",
            F.pmod(
                F.xxhash64(F.monotonically_increasing_id()),
                slot_map[F.col("__day").cast("string")],
            ).cast("int"),
        )
        .repartition(total_slots, F.col("__day"), F.col("__slot"))
        .drop("__slot")
        .write.mode("overwrite")
        .partitionBy("__day")
        .parquet(out_path)
    )
    after = _count_local_files(out_path)
    return {"files_before": before, "files_after": after}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Write a hash-bucketed managed table (``bucketBy`` + optional
    ``sortBy``) — the pre-shuffled lake layout for co-located joins.

    At 100 TB the dominant recurring cost of fact-fact joins is the
    shuffle of both sides on the join key.  Bucketing pays that shuffle
    ONCE at write time: both tables land pre-hash-partitioned (and
    optionally pre-sorted) on the key, and every later equi-join on it
    plans as a zero-exchange SortMergeJoin — see
    ``tests/test_bucketed_join.py`` for the plan-level guarantee.
    Requires a SparkSession with a writable ``spark.sql.warehouse.dir``.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a :func:`write_bucketed` table; Catalyst knows the bucket
    spec from the catalog, so joins/aggs on the bucket column skip
    their exchange."""
    return spark.table(table)


def cluster_by_zorder(
    df: DataFrame,
    out_path: str,
    col_a: str,
    col_b: str,
    n_bits: int = 8,
    n_files: int = 8,
) -> None:
    """Rewrite a dataset Z-ORDERED on two numeric columns (Morton-curve
    clustering — the OPTIMIZE ZORDER pattern) so parquet min/max stats
    prune files for predicates on EITHER column.

    A plain sort clusters one column perfectly and the other not at
    all; interleaving the bits of the two columns' quantile ranks
    yields files whose min/max footprint is narrow in BOTH dimensions.

    Scale shape: per-column quantile cut points come from ONE
    ``approx_percentile`` aggregate (sketch-mergeable, metadata-size
    result); ranks and the Morton key are pure projections; the only
    data movement is the range exchange on the key — the same single
    sort-shuffle any clustering rewrite fundamentally requires, with
    file count controlled by ``n_files``.
    """
    cuts = df.select(
        F.percentile_approx(
            col_a, [i / 2**n_bits for i in range(1, 2**n_bits)], 10_000
        ).alias("ca"),
        F.percentile_approx(
            col_b, [i / 2**n_bits for i in range(1, 2**n_bits)], 10_000
        ).alias("cb"),
    ).first()

    def rank_expr(col: str, cut_vals) -> F.Column:
        # rank = number of cut points <= value (0..2^n_bits-1), as a
        # literal-array binary-search-free fold: fine for 2^8 cuts
        arr = F.array(*[F.lit(float(c)) for c in cut_vals])
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc
            + F.when(F.col(col).cast("double") >= c, 1).otherwise(0),
        )

    a_r = rank_expr(col_a, cuts["ca"])
    b_r = rank_expr(col_b, cuts["cb"])
    morton = F.lit(0).cast("bigint")
    for i in range(n_bits):
        bit_a = F.shiftright(a_r, i).bitwiseAND(F.lit(1)).cast("bigint")
        bit_b = F.shiftright(b_r, i).bitwiseAND(F.lit(1)).cast("bigint")
        morton = (
            morton
            + bit_a * F.lit(2 ** (2 * i)).cast("bigint")
            + bit_b * F.lit(2 ** (2 * i + 1)).cast("bigint")
        )
    (
        df.withColumn("__z", morton)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


#: canonical JSONL corpus schema — the interchange format training-data
#: pipelines actually exchange (one JSON object per line, gzip per
#: shard).  Explicit schema: corpus readers must never pay Spark's
#: whole-input schema-inference pass, and a malformed line must become
#: a NULL-keyed row to quarantine, not a silent column-type flip.
JSONL_CORPUS_SCHEMA = (
    "doc_id BIGINT, lang STRING, source STRING, ts_added STRING, "
    "n_chars BIGINT, text STRING"
)


def write_jsonl_corpus(
    df: DataFrame, path: str, shards: int | None = None, compress: bool = True
) -> None:
    """documents-shaped frame -> sharded (optionally gzipped) JSONL.

    ``shards`` bounds the file count (one exchange); None keeps the
    input partitioning (zero exchange — the right call when the frame
    is already well-split).  gzip is the interchange default; Spark
    writes/reads it natively per shard, and since gzip is not
    splittable each shard should stay ~100-500 MB at scale — which is
    what ``shards`` is for.
    """
    out = df if shards is None else df.repartition(shards)
    writer = out.write.mode("overwrite")
    if compress:
        writer = writer.option("compression", "gzip")
    writer.json(path)


def read_jsonl_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Sharded JSONL (plain or .gz) -> corpus frame under the explicit
    schema.  Lines that do not parse land with all-NULL columns plus
    the raw line in ``_corrupt_record`` for quarantine — PERMISSIVE
    mode, so one bad shard cannot fail a 100-TB read.  (Spark disallows
    a query referencing ONLY ``_corrupt_record`` on a raw JSON scan;
    persist the frame before a quarantine-only filter.)"""
    return (
        spark.read.schema(JSONL_CORPUS_SCHEMA + ", _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    bloom_cols: tuple[str, ...] = (),
    shards: int | None = None,
) -> None:
    """Frame -> ORC with optional per-column Bloom filters — the
    columnar interchange for Hive/Trino-adjacent stacks (ORC is built
    into Spark; no extra package).  Bloom filters on point-lookup
    columns let the reader skip entire stripes on equality predicates
    the min/max stripe stats can't prune (high-cardinality ids).
    Same sharding contract as the JSONL/CSV writers: ``shards=None``
    keeps the input partitioning (zero exchange)."""
    out = df if shards is None else df.repartition(shards)
    writer = out.write.mode("overwrite")
    if bloom_cols:
        writer = writer.option(
            "orc.bloom.filter.columns", ",".join(bloom_cols)
        )
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — vectorized reader, predicate pushdown and column
    pruning apply exactly as on parquet (pinned by test)."""
    return spark.read.orc(path)


#: CSV metric-sample interchange schema (the flat-file drop every
#: monitoring export produces: one sample per line).  ts is read as
#: STRING then parsed explicitly — CSV timestamp inference is both slow
#: and timezone-ambiguous; try_to_timestamp keeps a malformed stamp a
#: NULL instead of failing the scan.
CSV_METRICS_SCHEMA = "ts STRING, metric STRING, value DOUBLE, seq BIGINT"


def write_csv_metrics(
    df: DataFrame, path: str, shards: int | None = None, compress: bool = True
) -> None:
    """(ts, metric, value, seq) frame -> sharded (optionally gzipped)
    CSV with header.  Same sharding contract as write_jsonl_corpus:
    None keeps the input partitioning (zero exchange)."""
    out = df if shards is None else df.repartition(shards)
    writer = out.selectExpr(
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts",
        "metric",
        "value",
        "seq",
    ).write.mode("overwrite").option("header", True)
    if compress:
        writer = writer.option("compression", "gzip")
    writer.csv(path)


def read_csv_metrics(spark: SparkSession, path: str) -> DataFrame:
    """Sharded CSV (plain or .gz) -> sample stream (ts TIMESTAMP_NTZ,
    metric, value, seq) under the explicit schema — no inference scan.
    Malformed lines keep the raw text in ``_corrupt_record`` for
    quarantine (PERMISSIVE), and unparseable timestamps surface as NULL
    ts rather than a failed 100-TB read."""
    raw = (
        spark.read.schema(CSV_METRICS_SCHEMA + ", _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", True)
        .csv(path)
    )
    return raw.select(
        F.expr(
            "try_to_timestamp(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        ).cast("timestamp_ntz").alias("ts"),
        "metric",
        "value",
        "seq",
        "_corrupt_record",
    )
