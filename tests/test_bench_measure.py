"""bench.measure without Spark: a fake session, frame, clock, DuckDB
connection and checkpointed frame drive the one timing primitive
behind every bench.py row and the growth and sweep tools."""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from prometheus_anomaly_detection_lstm_spark.functions.checkpoint import (
    cut_lineage,
)


class Box:
    """Fake session + clock + event log: every write advances the
    clock by the next scripted cost and records the job label."""

    def __init__(self, costs):
        self.now = 0.0
        self.costs = iter(costs)
        self.label = None
        self.events: list[tuple] = []
        self.sparkContext = self
        self.conf = types.SimpleNamespace(get=lambda key, default=None: default)

    def perf_counter(self):
        return self.now

    def setJobDescription(self, label):
        self.label = label


class Frame:
    def __init__(self, box, name, fail=False):
        self.box, self.name, self.fail = box, name, fail
        self.sparkSession = box

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        self.box.events.append(("write", self.name, self.box.label))
        if self.fail:
            raise RuntimeError("write failed")
        self.box.now += next(self.box.costs)

    def localCheckpoint(self, eager=False):
        return Checkpointed(self.box, self.name)


class Checkpointed(Frame):
    """What cut_lineage returns: releasing it unpersists this RDD."""

    @property
    def _jdf(self):
        return self

    def queryExecution(self):
        return self

    def analyzed(self):
        return self

    def rdd(self):
        return self

    def unpersist(self, blocking):
        self.box.events.append(("release", self.name, self.box.label))


class Duck:
    def __init__(self, box, cost):
        self.box, self.cost = box, cost

    def execute(self, sql):
        self.box.events.append(("duck", sql, self.box.label))
        self.box.now += self.cost
        return self

    def fetchall(self):
        return []


@pytest.fixture()
def box(monkeypatch):
    def make(costs):
        b = Box(costs)
        monkeypatch.setattr(bench, "time", b)
        return b

    return make


def _builder(box, name, checkpoint=False):
    built = []

    def build():
        built.append(name)
        box.now += 10.0  # construction cost
        df = Frame(box, name)
        return cut_lineage(df) if checkpoint else df

    return build, built


def test_keys_and_median_pick(box):
    b = box([100.0, 3.0, 1.0, 2.0])
    build, built = _builder(b, "q")
    got = bench.measure(b, {"q": build}, 3)
    assert dict(got) == {"q": 2.0, "q_passes": [3.0, 1.0, 2.0]}
    assert built == ["q"]  # built once, re-executed
    assert got.frames["q"].name == "q"
    labels = [e[2] for e in b.events if e[0] == "write"]
    assert labels == ["bench:q"] * 4
    assert b.label is None


def test_min_pick_round_robin(box):
    b = box([9.0, 9.0, 4.0, 6.0, 2.0, 5.0, 3.0, 7.0])
    build_a, _ = _builder(b, "a")
    build_b, _ = _builder(b, "b")
    got = bench.measure(b, {"a": build_a, "b": build_b}, 3, min)
    assert got["a"] == 2.0 and got["a_passes"] == [4.0, 2.0, 3.0]
    assert got["b"] == 5.0 and got["b_passes"] == [6.0, 5.0, 7.0]
    order = [e[1] for e in b.events if e[0] == "write"]
    assert order == ["a", "b"] * 4  # warm-up, then round-robin passes


def test_duck_interleave_counts(box):
    b = box([1.0] * 8)
    con = Duck(b, 0.5)
    build, _ = _builder(b, "q")
    got = bench.measure(b, {"q": build}, 7, con=con, sql="SELECT 1", duck_passes=3)
    kinds = [e[0] for e in b.events]
    # warm Spark, warm DuckDB, then one oracle pass after passes 1/3/5
    assert kinds == [
        "write", "duck",
        "write", "duck", "write", "write", "duck", "write", "write", "duck",
        "write", "write",
    ]
    assert got["q_duck_passes"] == [0.5, 0.5, 0.5]
    assert got["q_duck_sec"] == 0.5
    assert got["q_inrun_ratio"] == 2.0
    assert set(got) == {
        "q", "q_passes", "q_duck_sec", "q_duck_passes", "q_inrun_ratio",
    }

    b = box([1.0] * 4)
    con = Duck(b, 0.25)
    build, _ = _builder(b, "q")
    got = bench.measure(b, {"q": build}, 3, con=con, sql="SELECT 1")
    assert [e[0] for e in b.events].count("duck") == 1 + 3
    assert got["q_duck_passes"] == [0.25] * 3


@pytest.mark.parametrize("checkpoint", [False, True])
def test_full_cost_iff_construction_checkpoints(box, checkpoint):
    b = box([1.0] * 4)
    build, built = _builder(b, "q", checkpoint=checkpoint)
    got = bench.measure(b, {"q": build}, 3)
    releases = [e for e in b.events if e[0] == "release"]
    if not checkpoint:
        assert built == ["q"] and not releases
        assert got["q_passes"] == [1.0] * 3
        assert got.frames["q"] is not None
        return
    # one build per pass (plus the warm-up), construction timed
    assert built == ["q"] * 4
    assert got["q_passes"] == [11.0] * 3
    assert got.frames["q"] is None
    # every pass's checkpoint is released after its timed write, with
    # the job label already cleared
    kinds = [e[0] for e in b.events]
    assert kinds == ["write", "release"] * 4
    assert all(e[2] is None for e in releases)


def test_label_cleared_after_raising_write(box):
    b = box([1.0])

    def build():
        return Frame(b, "q", fail=True)

    with pytest.raises(RuntimeError, match="write failed"):
        bench.measure(b, {"q": build}, 3)
    assert b.events == [("write", "q", "bench:q")]
    assert b.label is None
