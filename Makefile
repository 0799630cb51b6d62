.PHONY: test verify verify-full bench plans perf-serve perf-batch perf-ingest

test:
	python -m pytest tests/ -x -q

verify:
	python tools/verify_local.py /root/testdata/sf0.01

verify-full:
	python tools/verify_local.py /root/testdata/sf0.1

bench:
	python bench.py

plans:
	python tools/plan_audit.py

# one run of a BENCHMARK.json workload, as the benchmark runs it
perf-serve:
	SPARK_GRAFT_CPUS=$$(nproc) python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

perf-batch:
	SPARK_GRAFT_CPUS=$$(nproc) python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 15 --trace 0

# ingest_stream is not in BENCHMARK.json; run it by hand when a change
# touches the streaming sinks (streaming/sinks.py, ivm.py)
perf-ingest:
	SPARK_GRAFT_CPUS=$$(nproc) python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 15 --trace 0
