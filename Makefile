# Preflight gate for snapshot commits: round 4 shipped an operator with a
# deterministically failing test because the suite was never run at the
# commit. Nothing gets snapshotted without `make preflight` green.

.PHONY: test verify audit empty-sweep skew-sweep determinism bench perfbench perfbench-trace pipeline-bench preflight

test:
	python -m pytest tests/ -q

verify:
	python tools/verify_local.py

audit:
	python tools/plan_audit.py

empty-sweep:
	python tools/empty_sweep.py
	python tools/empty_sweep.py /root/testdata/sf0.001 1
	python tools/empty_sweep.py /root/testdata/sf0.001 nulls
	python tools/empty_sweep.py /root/testdata/sf0.001 text
	python tools/empty_sweep.py /root/testdata/sf0.001 dupes
	python tools/empty_sweep.py /root/testdata/sf0.001 extremes

skew-sweep:
	python tools/make_skewed.py /root/testdata/sf0.01 /tmp/skewdata
	python tools/verify_local.py /tmp/skewdata

determinism:
	python tools/determinism_sweep.py

bench:
	python bench.py

perfbench:
	python3 perfbench/run.py --workload telemetry_etl --seed 1 --seconds 5 --trace 0
	python3 perfbench/run.py --workload dedup_hot --seed 1 --seconds 5 --trace 0

# traced dedup_hot: the only run outside the tests that reads dup_stats,
# duplicate_collapse="never" and the collapsed plans' __rep marker
perfbench-trace:
	python3 perfbench/run.py --workload dedup_hot --seed 1 --seconds 5 --trace 1

pipeline-bench:
	python tools/pipeline_bench.py

preflight: test verify audit empty-sweep
	@echo "preflight green — safe to snapshot"
