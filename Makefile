# mirrors the reference's Makefile targets (reference Makefile:12-13)
.PHONY: test bench perfbench plandigest pipeline clean

# perfbench workload and seed: make perfbench W=qc_pipeline SEED=12
W ?= govern_dedup
SEED ?= 11
# package tree that plandigest imports: make plandigest TREE=<other tree>
TREE ?= .

# the tier-1 command (ROADMAP.md "Tier-1 verify")
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 12
	python3 -m pytest perfbench -q

# one line per governance call site: <site> <plan sha> <rows sha>;
# diff the output of two trees to check that their plans and rows match
plandigest:
	@PYTHONPATH=$(abspath $(TREE)) python scripts/plan_digest.py

bench:
	python bench.py

pipeline:
	python scripts/run_pipeline.py --master 'local[8]' \
	  --generate-convs 1000 --input .bench/demo/in \
	  --output .bench/demo/out --state .bench/demo/state

clean:
	rm -rf .bench .pytest_cache $(shell find . -name __pycache__)
