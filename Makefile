.PHONY: dist test bench bench-smoke scaling round clean

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

scaling:
	python jobs/bench_scaling.py

clean:
	rm -rf dist .fixtures/*.tmp.parquet
