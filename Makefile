# Developer workflow (mirrors the reference's python/Makefile:6-16 targets)

.PHONY: test bench scaling submit-demo package clean

# the Tier-1 command from ROADMAP.md, verbatim (make turns $$ into $)
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

scaling:
	python bench_scaling.py

package:
	rm -f opengin_ingestion_spark.zip
	zip -qr opengin_ingestion_spark.zip opengin_ingestion_spark

# the north_star run mode: spark-submit --py-files on a packaged zip
submit-demo: package
	spark-submit --master 'local[8]' \
	  --conf spark.sql.shuffle.partitions=8 \
	  --conf spark.ui.enabled=false \
	  --py-files opengin_ingestion_spark.zip \
	  jobs/replay_job.py \
	  --log-dir /tmp/opengin_submit_demo/log \
	  --table /tmp/opengin_submit_demo/pages \
	  --generate-events 20000

clean:
	rm -rf opengin_ingestion_spark.zip /tmp/opengin_submit_demo
