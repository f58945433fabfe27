# One-command gates. `make verify` chains the oracle-type lint → pytest →
# sf0.01 parity → perfbench → bench → sf1.0 scale parity and writes
# VERIFY.json.
.PHONY: verify verify-fast test parity perfbench bench scale stress-classifier

# the workloads BENCHMARK.json declares
PERFBENCH_WORKLOADS = $(shell python3 -c "import json; \
	print(' '.join(w['name'] for w in \
	json.load(open('BENCHMARK.json'))['workloads']))")

verify:
	python tools/verify_all.py

verify-fast:
	python tools/verify_all.py --fast

# the Tier-1 command in ROADMAP.md: the suite a change must
# keep green, on every CPU this process may use, within its time budget
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q \
	    --continue-on-collection-errors -p no:cacheprovider

parity:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 \
	python -m pytest tests/test_oracle_parity.py -q

# one repo-benchmark run per workload (seed 1, end-to-end metrics); fails
# on the first run that exits non-zero (a failed operation or check)
perfbench:
	@for w in $(PERFBENCH_WORKLOADS); do \
	    echo "perfbench: $$w"; \
	    python3 perfbench/run.py --workload $$w --seed 1 --seconds 1 \
	        --trace 0 || exit 1; \
	done

bench:
	python bench.py

scale:
	python bench_scale.py verify

# r7 verdict #6: nightly-style boundary probe of the classifier's
# documented ln-at-half-micro-unit risk class — 500 generated corpora
# through train->score vs the DuckDB twins.  A failure prints the
# hypothesis @reproduce_failure blob (print_blob profile, conftest.py).
stress-classifier:
	SPARK_GRAFT_FUZZ_EXAMPLES=500 \
	python -m pytest tests/test_differential_fuzz.py -q \
	    -k test_classifier_matches_duckdb
