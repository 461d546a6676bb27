# Round gate targets (VERDICT r2 item 3): run `make preflight` before any
# end-of-round snapshot — it refuses (non-zero exit) on any driver-window
# oracle mismatch, test failure, or unparseable bench line.

.PHONY: gate test tier1 bench preflight

gate:
	python scripts/green_gate.py

test:
	python -m pytest tests/ -q

# The Tier-1 suite as ROADMAP.md runs it: SPARK_GRAFT_CPUS from the host's
# cores, not the session factory's 32, and held to the 2670 s budget.
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

preflight: gate test bench
