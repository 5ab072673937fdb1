"""minhash dedup: the pre-keyed flagship equals the gated default."""

from __future__ import annotations

from prometheus_anomaly_detection_lstm_spark.operators import dedup
from .conftest import SF_SMALL


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


def test_pre_key_equals_gated_minhash(spark):
    """minhash_lsh_dedup(pre_key=True) — the round-10 flagship default
    (unconditional doc_id pre-amplification exchange) — must return
    exactly the gated-default answer: the repartition is an
    exchange-placement change, never a semantic one."""
    docs = dedup._docs(spark, SF_SMALL)
    a = _pairs(dedup.minhash_lsh_dedup(docs, pre_key=True))
    b = _pairs(dedup.minhash_lsh_dedup(docs, pre_key=False))
    assert a == b and len(a) > 0

