.PHONY: test verify bench perfbench scale scale-cluster sweep recall crossover package clean

crossover:
	python tools/wand_crossover.py 240000,960000,1920000 --runs=2

test:            # the ROADMAP Tier-1 verify command
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify:
	python tools/driver_sim.py

bench:
	python bench.py

perfbench:       # BENCHMARK.json's benchmark: its smoke tests, then every workload (untraced, then traced)
	python -m pytest perfbench/test_smoke.py -q
	python3 perfbench/run.py --workload all --seed 1 --seconds 5

scale:
	python tools/scaling_bench.py

scale-cluster:   # N->4N as separate executor JVMs (local-cluster)
	SPARK_GRAFT_CLUSTER=1 python tools/build_job.py 1 1920000
	SPARK_GRAFT_CLUSTER=1 python tools/build_job.py 4 1920000

sweep:           # WAND k x query-length cells at 3.84M docs
	python tools/wand_crossover.py 3840000 --sweep --runs=2 --ks=10,100 --qlens=1,5

recall:          # ANN recall@k vs brute ground truth
	python tools/ann_recall.py /root/testdata/sf0.1 --k=10 --n-queries=50

package:
	python -c "from goldenretriever_spark.deploy import package_zip; print(package_zip())"

clean:
	rm -rf /tmp/goldenretriever_spark.zip .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} + 2>/dev/null || true
