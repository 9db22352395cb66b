# Orchestration surface — parity with the reference's Makefile job
# targets (reference Makefile:33-44 runs transform_job.py/daily_job.py
# through spark-submit inside docker-compose containers; this repo is a
# library + CLI, so the same lifecycle runs through
# `python -m scalable_etl_spark` locally and plain spark-submit on a
# cluster — see DEPLOY.md for the cluster spelling).

WAREHOUSE ?= /tmp/spark-graft-warehouse/medallion
IN_DIR    ?= /tmp/spark-graft-landing
OUT_DIR   ?= $(WAREHOUSE)/gold_export
SF_DIR    ?= /root/testdata/sf0.1

# --- Pipeline execution (reference `make jobs`) ---

seed:  ## synthetic NDJSON listens into $(IN_DIR) for a local dry run
	python tools/seed_landing.py $(IN_DIR)

ingest:
	python -m scalable_etl_spark ingest --in $(IN_DIR) --warehouse $(WAREHOUSE)

ingest-stream:
	python -m scalable_etl_spark ingest --in $(IN_DIR) --warehouse $(WAREHOUSE) --stream

transform:
	python -m scalable_etl_spark transform --warehouse $(WAREHOUSE)

daily:
	python -m scalable_etl_spark daily --warehouse $(WAREHOUSE) --out $(OUT_DIR)

report:
	python -m scalable_etl_spark report --warehouse $(WAREHOUSE)

jobs: transform daily  ## bronze -> silver -> gold -> BI export

pipeline:
	python -m scalable_etl_spark pipeline --in $(IN_DIR) --warehouse $(WAREHOUSE)

# --- Verification ---

test:
	python -m pytest tests/ -x -q

correctness:  ## every registered query vs its DuckDB oracle, sf0.01
	python tools/check_correctness.py

bench:  ## one JSON line of per-query wall seconds at $(SF_DIR)
	SPARK_GRAFT_SF_DIR=$(SF_DIR) python bench.py

trace:  ## traced perfbench runs, seed 1: per-layer counters in .bench_runs/trace-*.json
	python3 perfbench/run.py --workload lakehouse_dml --seed 1 --seconds 10 --trace 1
	python3 perfbench/run.py --workload query_corpus --seed 1 --seconds 10 --trace 1

plans:  ## refresh PLANS.md (formatted explain of the headline queries)
	python tools/dump_plans.py

# --- Utilities (reference `make clean`) ---

clean:
	rm -rf /tmp/spark-graft-warehouse
	@echo ">>> Cleaned the local warehouse"

.PHONY: seed ingest ingest-stream transform daily report jobs pipeline \
        test correctness bench trace plans clean
