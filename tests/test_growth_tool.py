"""io_tables.replicate (the one scale-up recipe), its recipe-stamped
writer and tools/growth.py."""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from prometheus_anomaly_detection_lstm_spark.io_tables import (
    REPLICA_KEYS,
    ensure_replica,
    load_table,
    replicate,
    span_days,
)

from .conftest import SF_SMALL

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


def _growth():
    sys.path.insert(0, TOOLS)
    try:
        import growth
    finally:
        sys.path.remove(TOOLS)
    return growth


@pytest.mark.parametrize("name", sorted(REPLICA_KEYS))
def test_replicate_triples_rows_and_keys(spark, name):
    base = load_table(spark, SF_SMALL, name)
    rep = replicate(base, name, 3)
    assert rep.schema == base.schema
    assert rep.count() == 3 * base.count()
    for key in REPLICA_KEYS[name]:
        n_base = base.select(key).distinct().count()
        assert rep.select(key).distinct().count() == 3 * n_base


def test_replicate_events_span_grows_60_days(spark):
    base = load_table(spark, SF_SMALL, "events")
    assert span_days(replicate(base, "events", 3)) == span_days(base) + 60


def test_replicate_documents_suffix(spark):
    base = load_table(spark, SF_SMALL, "documents")
    rep = replicate(base, "documents", 3).withColumn(
        "k", (F.col("doc_id") / 1_000_000_000).cast("int")
    )
    assert sorted(map(tuple, rep.filter("k = 0").drop("k").collect())) == sorted(
        map(tuple, base.collect())
    )
    for k in (1, 2):
        texts = [r["text"] for r in rep.filter(f"k = {k}").collect()]
        assert len(texts) == base.count()
        assert all(t.endswith(f" copyvariant{k}") for t in texts)


def test_replicate_leaves_dimensions(spark):
    base = load_table(spark, SF_SMALL, "customer")
    assert replicate(base, "customer", 3) is base


def test_replicate_refuses_wide_events_base(spark):
    t0 = dt.datetime(2024, 1, 1)
    wide = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(days=30))], "event_id bigint, ts timestamp"
    )
    with pytest.raises(ValueError, match="< 30 days"):
        replicate(wide, "events", 3)


@pytest.mark.parametrize("name", ["documents", "events", "orders"])
def test_ensure_replica_reuses_a_stamped_table(spark, tmp_path, name):
    """The first call writes the table and its recipe stamp; a second
    call with the same recipe rewrites nothing and reports no
    generation time."""
    first = ensure_replica(spark, SF_SMALL, str(tmp_path), name, 2)
    base_rows = load_table(spark, SF_SMALL, name).count()
    assert set(first) == {f"{name}_gen_sec", f"{name}_rows"}
    assert first[f"{name}_rows"] == 2 * base_rows
    stamp = json.loads((tmp_path / f"{name}.recipe.json").read_text())
    assert stamp["copies"] == 2 and stamp["rows"] == 2 * base_rows
    assert stamp["base"] == f"{SF_SMALL}/{name}.parquet"

    def mtimes():
        return {
            str(p): p.stat().st_mtime_ns
            for p in tmp_path.rglob("*")
            if p.is_file()
        }

    before = mtimes()
    second = ensure_replica(spark, SF_SMALL, str(tmp_path), name, 2)
    assert second == {f"{name}_rows": 2 * base_rows}
    assert mtimes() == before
    # a different recipe (copy count) regenerates and re-stamps
    third = ensure_replica(spark, SF_SMALL, str(tmp_path), name, 3)
    assert f"{name}_gen_sec" in third
    stamp = json.loads((tmp_path / f"{name}.recipe.json").read_text())
    assert stamp["copies"] == 3


def test_replicated_orders_all_join_a_customer(spark, tmp_path):
    """Copies offset order keys but not ``o_custkey``: the dimension is
    written once, so every replicated order still finds its customer."""
    got = {}
    for name in ("orders", "customer"):
        got.update(ensure_replica(spark, SF_SMALL, str(tmp_path), name, 3))
    base_customers = load_table(spark, SF_SMALL, "customer").count()
    assert got["customer_rows"] == base_customers
    stamp = json.loads((tmp_path / "customer.recipe.json").read_text())
    assert stamp["recipe"] == "dimension"
    orders = spark.read.parquet(str(tmp_path / "orders.parquet"))
    customer = spark.read.parquet(str(tmp_path / "customer.parquet"))
    assert orders.count() == got["orders_rows"]
    lost = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    )
    assert lost.count() == 0


def test_growth_tool_smoke(spark, monkeypatch, capsys):
    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*a, **kw):
        made.append(mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    _growth().main(["tpch_q1", "--sf", SF_SMALL, "--mults", "1", "2"])
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [x["mult"] for x in lines] == [1, 2]
    one, two = (x["rows"] for x in lines)
    assert set(one) == set(REPLICA_KEYS)
    assert {t: 2 * n for t, n in one.items()} == two
    for x in lines:
        assert set(x["queries"]) == {"tpch_q1"}
        assert x["queries"]["tpch_q1"] > 0
    assert made and not any(os.path.exists(d) for d in made)


def test_growth_expands_module_names():
    from prometheus_anomaly_detection_lstm_spark.plans import robust
    from prometheus_anomaly_detection_lstm_spark.registry import all_queries

    queries = all_queries()
    names = _growth().expand(["robust", "tpch_q1"], queries)
    assert names == [*robust.QUERIES, "tpch_q1"]
    with pytest.raises(SystemExit):
        _growth().expand(["no_such_thing"], queries)
