# Developer entry points. `make test` is the Tier-1 command and includes the
# oracle gate at sf0.001 (tests/test_oracles.py); `make oracle` runs the same
# check at another scale.

.PHONY: test perfbench-test oracle bench plans

# The Tier-1 command (ROADMAP.md): one Spark core budget per host, local
# dirs under /tmp, no pytest cache written into the repo.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# perfbench's own unit tests (reducers, model); Tier-1 does not collect them.
perfbench-test:
	python3 -m pytest perfbench/tests

oracle:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracles.py -q -p no:cacheprovider

bench:
	SPARK_GRAFT_SF_DIR=$${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} python bench.py

plans:
	python tools/plan_report.py
