# Developer entry points (PYTHONPATH=repo root is assumed; all targets
# run on local[32] Spark).

.PHONY: test check check-all checkall bench smoke e2e preflight lint loc

ROUND ?= 08

# RULE (r7 verdict): any commit touching operators/ or contract.py runs
#   python tools/check_contract.py /root/testdata/sf0.01 <affected queries...>
# BEFORE the commit, and each round commits a fresh CHECKALL_r$(ROUND).json
# at end-of-round HEAD (make checkall) -- a change landing in the driver
# window's tail must never ship without oracle evidence.

checkall: preflight  ## full-registry 3-SF oracle sweep -> CHECKALL_r$(ROUND).json
	python tools/checkall.py --out CHECKALL_r$(ROUND).json

preflight:        ## fail loudly if testdata parquet schemas drifted
	python tools/preflight.py

test:
	python -m pytest tests/ -q

check: preflight lint  ## every contract query vs its DuckDB oracle at sf0.01
	python tools/check_contract.py /root/testdata/sf0.01

lint:             ## physical-plan lint over the full registry (0 flags = pass)
	python tools/plan_lint.py /root/testdata/sf0.001

check-all:        ## the same at all three scale factors (catches float/cast divergence)
	python tools/check_contract.py /root/testdata/sf0.001
	python tools/check_contract.py /root/testdata/sf0.01
	python tools/check_contract.py /root/testdata/sf0.1

bench:            ## headline timings at sf0.1 -> one JSON line
	python bench.py

smoke:            ## driver entry smoke (sf0.001 flagship)
	python -c "import __spark_entry__ as e; \
	from finance_etl_pipeline_monthly_close_dataset_spark.session import get_spark; \
	df = e.entry(get_spark()); print(df.count(), df.columns)"

e2e:              ## seed-42 monthly close end-to-end into ./data
	python -m finance_etl_pipeline_monthly_close_dataset_spark.cli generate --out-dir data/raw --reference-dir data/reference --month 2025-12
	python -m finance_etl_pipeline_monthly_close_dataset_spark.cli run --month 2025-12 --raw-dir data/raw --curated-dir data/curated --reference-dir data/reference --fail-on ERROR

loc:              ## Python line count tracked by ROADMAP
	@git ls-files '*.py' | xargs cat | wc -l
