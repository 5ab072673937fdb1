"""PySpark-native anomaly-detection analytics engine.

A from-scratch re-expression of the data-processing semantics of the
reference ``vpuhoff/prometheus-anomaly-detection-lstm`` (pandas/Keras,
single node) on an idiomatic Spark substrate: DataFrame/SQL plans
optimized by Catalyst, Arrow-vectorized pandas UDFs only where built-in
operators cannot express the semantics, and Structured Streaming for the
realtime detector.

Layout:
    operators/   alignment, fill, scaling, windowing, scoring, dedup,
                 similarity, text analysis, multimodal plumbing
    sources/     Prometheus HTTP range source (Spark 4 Python DataSource)
    functions/   small reusable column expressions
    plans/       composed end-to-end pipelines + relational benchmark queries
    streaming/   realtime detector (foreachBatch) + exporter sink
    ml/          deterministic stub autoencoder + optional Keras training
"""

__version__ = "0.1.0"

from prometheus_anomaly_detection_lstm_spark import shipping as _shipping

_shipping.install_lazy_zip_invalidation()
