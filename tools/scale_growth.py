"""Scale-growth experiment: flagship pipeline wall time vs data volume.

Replicates the sf0.1 events table N times with a 35-day time shift per
copy (real scale growth — more days on the grid, distinct event ids —
not duplicate keys), runs the full align->fill->scale->window->score
pipeline, and prints one JSON line per multiplier.  Results recorded in
BASELINE.md; usage: ``python tools/scale_growth.py [mult ...]``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from prometheus_anomaly_detection_lstm_spark.operators import fill, scale
    from prometheus_anomaly_detection_lstm_spark.operators import score as SC
    from prometheus_anomaly_detection_lstm_spark.operators.align import metrics_wide
    from prometheus_anomaly_detection_lstm_spark.plans import pipeline as P
    from prometheus_anomaly_detection_lstm_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    spark = get_spark("scale-growth")
    spark.sparkContext.setLogLevel("ERROR")
    ev = P.load(spark, "/root/testdata/sf0.1", "events")
    for mult in mults:
        copies = [
            ev.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {k * 35} DAYS"))
            .withColumn("event_id", F.col("event_id") + F.lit(k * 100_000_000))
            for k in range(mult)
        ]
        big = functools.reduce(lambda a, b: a.unionByName(b), copies)
        long = big.select(
            "ts",
            F.col("event_type").alias("metric"),
            "value",
            F.col("event_id").alias("seq"),
        )
        t0 = time.perf_counter()
        wide = metrics_wide(long, P.METRICS)
        df = P.with_calendar(wide).withColumn("__day", F.to_date("ts"))
        df = fill.ffill_bfill_scalable(df, P.METRICS, day_col="__day")
        rows = scale.fit_params(df, P.FEATURES).collect()
        df = scale.scale_data(df, P.FEATURES, "MinMaxScaler", rows)
        out = SC.window_mse(
            df,
            P.FEATURES,
            P.SEQUENCE_LENGTH,
            a=P.STUB_A,
            b=P.STUB_B,
            day_col="__day",
        )
        n = out.count()
        print(
            json.dumps(
                {
                    "mult": mult,
                    "windows": n,
                    "wall_sec": round(time.perf_counter() - t0, 2),
                }
            )
        )


if __name__ == "__main__":
    main()
