# Developer loop targets. The external driver samples ~50 of the
# registered queries per round (CORRECTNESS_r{N}.json); `gate-full`
# runs the ENTIRE registry so a regression in an unsampled query cannot
# hide for a round.

SF ?= /root/testdata/sf0.01
BENCH_SF ?= /root/testdata/sf0.1

# perfbench workload and seed (BENCHMARK.json lists the workloads)
W ?= pipeline
SEED ?= 1

.PHONY: test gate-full bench perfbench plan-lint profile

# the ROADMAP tier-1 command
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

gate-full:
	python tools/compare_oracle.py --sf $(SF)

plan-lint:
	python tools/plan_lint.py

bench:
	SPARK_GRAFT_SF_DIR=$(BENCH_SF) python bench.py

profile:
	python tools/query_profile.py --sf $(SF) $(Q)

perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 10
