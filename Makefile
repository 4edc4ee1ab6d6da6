.PHONY: test package submit submit-stream bench bench-compare oracle plans

# CPU count of this host: the default parallelism of every target below
NPROC := $(shell env -u OMP_NUM_THREADS nproc)

# the tier-1 suite (ROADMAP.md), then the benchmark's own unit tests
test:
	export SPARK_GRAFT_CPUS="$(NPROC)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
		timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
	python3 -m pytest perfbench/tests

package:
	mkdir -p dist
	rm -f dist/dataflows_spark.zip
	cd . && zip -qr dist/dataflows_spark.zip dataflows_spark -x '*__pycache__*'

# cluster-style launch (north rule): swap --master for yarn/k8s on a real cluster
submit: package
	spark-submit --master local[$${SPARK_GRAFT_CPUS:-$(NPROC)}] \
		--conf spark.sql.shuffle.partitions=64 \
		--conf spark.sql.adaptive.enabled=true \
		--conf spark.sql.session.timeZone=UTC \
		--py-files dist/dataflows_spark.zip \
		scripts/submit_pipeline.py --clips synth:20000 --out /tmp/dfs_submit_out

submit-stream: package
	spark-submit --master local[$${SPARK_GRAFT_CPUS:-$(NPROC)}] \
		--conf spark.sql.shuffle.partitions=64 \
		--conf spark.sql.adaptive.enabled=true \
		--conf spark.sql.session.timeZone=UTC \
		--py-files dist/dataflows_spark.zip \
		scripts/submit_pipeline.py --clips $${CLIPS_PATH:?set CLIPS_PATH} --stream \
		--out /tmp/dfs_submit_stream_out

bench:
	python bench.py

bench-compare:
	python bench.py --compare $${BASELINE:?set BASELINE=BENCH_rNN.json}

oracle:
	python scripts/check_oracle.py /root/testdata/sf0.01

plans:
	python scripts/gen_plans.py
