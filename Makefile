.PHONY: dist test bench bench-smoke bench-ab scaling round clean

# Round close-out: host probe (refuses on degraded host), full driver-
# replica correctness sweep at sf0.01, then bench.py — artifacts written
# as CORRECTNESS_local.json / BENCH_local.json with probe stamps.
round:
	python jobs/round_artifacts.py

dist:
	mkdir -p dist
	rm -f dist/openie_spark.zip
	cd . && zip -qr dist/openie_spark.zip openie_spark -x '*__pycache__*'

# the full test gate (no -x: every failure is reported)
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

# every benchmark metric checked at toy size (perfbench/README.md)
bench-smoke:
	python3 perfbench/run.py --smoke

# interleaved parent/change A/B of one workload:
#   make bench-ab PARENT=<tree> CHANGE=<tree> [WORKLOAD=kg_build] [PAIRS=10] [SEED=401]
# Export both trees the same way into fresh directories side by side, e.g.
#   git archive <commit> | tar -x -C <dir>
# so neither side runs from the working checkout.
WORKLOAD ?= kg_build
PAIRS ?= 10
SEED ?= 401
bench-ab:
	@test -n "$(PARENT)" -a -n "$(CHANGE)" || { echo "bench-ab needs PARENT=<tree> CHANGE=<tree> (both exported with git archive)"; exit 2; }
	python3 jobs/ab_perfbench.py $(PARENT) $(CHANGE) --workload $(WORKLOAD) --pairs $(PAIRS) --first-seed $(SEED)

scaling:
	python jobs/bench_scaling.py

clean:
	rm -rf dist .fixtures/*.tmp.parquet
