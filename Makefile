PY ?= python

.PHONY: test tier1 test-fast bench correctness scaling pipeline zip clean

test:
	$(PY) -m pytest tests/ -x -q

# the tier-1 gate exactly as ROADMAP.md states it
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

test-fast:
	$(PY) -m pytest tests/test_textnorm_oracle.py tests/test_corpus_training.py tests/test_properties.py -q

bench:
	$(PY) bench.py

correctness:
	$(PY) tools/check_correctness.py

scaling:
	$(PY) tools/run_scaling.py --docs 300000 --levels 4,16 --repeats 2

skew:
	$(PY) tools/run_skew_bench.py --edges 1000000 --cpus 16

pipeline:
	$(PY) jobs/run_pipeline.py --sf small --out /tmp/kgforge_out

reference-baseline:
	$(PY) tools/run_reference_style.py

# spark-submit packaging: zip the library for --py-files
zip:
	rm -f kgforge.zip && zip -rq kgforge.zip kgforge -x '*__pycache__*'
	@echo "submit with: spark-submit --py-files kgforge.zip jobs/run_pipeline.py ..."

clean:
	rm -rf kgforge.zip .pytest_cache $(shell find . -name __pycache__ -type d 2>/dev/null)
