# Developer entrypoints (parity with the reference Makefile:1-99:
# test / run / bench / docker targets, adapted to a Python+PySpark repo).
.PHONY: all test check check-perturbed bench perfbench serve scaling docker-build clean

APP_NAME = iceberg-rest-catalog-spark
PY ?= python

all: test check

# Unit + integration test suite
test:
	@echo "Running tests..."
	$(PY) -m pytest tests/ -q

# Full Spark-vs-DuckDB oracle comparison at sf0.01 (the correctness gate)
check:
	@echo "Running oracle comparison..."
	$(PY) tools/check_queries.py

# Headline benchmark at $${SPARK_GRAFT_SF_DIR:-sf0.1}; prints one JSON line
bench:
	@echo "Running benchmark..."
	$(PY) bench.py

# Per-change benchmark self-test: a short run of every workload in
# BENCHMARK.json (perfbench/README.md has the full runs)
perfbench:
	$(PY) perfbench/selftest.py

# sf0.001/0.01/0.1 scaling sweep
scaling:
	$(PY) tools/scaling_report.py

# oracle comparison on a deliberately degraded fixture copy — catches
# divergences the clean fixture masks (empty docs, missing domains, ...)
check-perturbed:
	$(PY) tools/perturbed_check.py

# REST catalog server (SIGINT/SIGTERM shut it down gracefully)
serve:
	$(PY) -m iceberg_rest_catalog_spark.catalog.rest --warehouse data

docker-build:
	docker build -t $(APP_NAME):latest .

clean:
	rm -rf .pytest_cache spark-warehouse data
	find . -name __pycache__ -type d -exec rm -rf {} +
