# Mirrors the reference's Makefile targets (Makefile:74-88) on the
# Spark engine; stages share one SparkSession via the CLI.

CONFIG ?= config.yaml
SF ?= /root/testdata/sf0.01
W ?= batch_pipeline
SEED ?= 1

.PHONY: collect preprocess train filter detect test parity sweep hygiene bench shuffle-audit anchors zoo perfbench perfbench-test perfbench-ab clean

collect:
	python -m prometheus_anomaly_detection_lstm_spark.cli collect --config $(CONFIG)

preprocess:
	python -m prometheus_anomaly_detection_lstm_spark.cli preprocess --config $(CONFIG)

train:
	python -m prometheus_anomaly_detection_lstm_spark.cli train --config $(CONFIG)

filter:
	python -m prometheus_anomaly_detection_lstm_spark.cli filter --config $(CONFIG)

detect:
	python -m prometheus_anomaly_detection_lstm_spark.cli detect --config $(CONFIG)

test:
	python -m pytest tests/ -x -q

parity:
	SPARK_GRAFT_TEST_SF=$(SF) python -m pytest tests/test_oracle_parity.py -q

# full driver-contract sweep: every registry query vs its DuckDB oracle
# (run from OUTSIDE the repo in real verification; see .claude/skills/verify)
sweep:
	python tools/driver_sim.py $$(python -c "from prometheus_anomaly_detection_lstm_spark.registry import PRIORITY; print(' '.join(PRIORITY))")

# registry-wide physical-plan floor (no cartesian/global sort/row UDF)
hygiene:
	python -m pytest tests/test_plan_hygiene.py -q

bench:
	python bench.py

# pipeline benchmark (BENCHMARK.json): one untraced run of workload W
# (batch_pipeline | realtime_detect) on seed SEED
perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 12 --trace 0

perfbench-test:
	python3 -m pytest perfbench -q

# interleaved A/B of workload W between two clean checkouts (git archive),
# e.g. make perfbench-ab PARENT=../parent CHANGE=../change SEEDS=921-930
PARENT ?=
CHANGE ?= .
SEEDS ?= 1-10
perfbench-ab:
	python3 tools/perfbench_ab.py $(PARENT) $(CHANGE) --workload $(W) --seeds $(SEEDS)

# per-query bytes-moved audit from event-log task metrics (BASELINE.md)
shuffle-audit:
	python tools/shuffle_audit.py

# same-minute DuckDB anchors for any query list (round-10 protocol;
# defaults to the ratio-weak text/corpus/DSPOT set at sf0.1)
anchors:
	python tools/inrun_anchor_sweep.py $(QUERIES)

# labeled detector scorecard: point spikes / level shift (+GLR
# localization) / slot contamination / slow ramp
zoo:
	python tools/detector_zoo_eval.py

clean:
	rm -rf spark-warehouse metastore_db derby.log .pytest_cache .hypothesis .perfbench_work .benchmarks
