# Developer gates.  `make check` is the MANDATORY pre-snapshot gate: any
# commit touching functions/, pipeline/, operators/, sinks/ or plans/ must
# run it first (round 5 shipped a 122-test ANSI regression in a snapshot
# commit that this exact target would have caught in under two minutes).

.PHONY: check test test-driver-tier bench driver-sim window-check

# Fast regression gate (~5 min on 4 cores): formatter semantics + ANSI edge probes +
# golden sha256-pinned end-to-end artifacts + each prepare() UDF running
# once per row + the driver-window contract (window stays 50 oracle-backed
# entries; a broken registration would silently shrink the external hard
# signal).
check:
	python -m pytest tests/test_ansi_edges.py tests/test_formatters.py \
	    tests/test_golden_outputs.py tests/test_prepare_udf_once.py \
	    tests/test_oracle_parity.py::test_driver_window_is_all_oracle_backed -q

# FULL suite (~39 min on the r13 host): driver tier + the full-tier
# modules gated in tests/conftest.py (learner differentials, e2e, plan
# audits, streaming semantics, recall, ...).  MANDATORY before snapshot
# commits.  A bare `pytest tests/` runs the DRIVER TIER only (~11 min):
# the oracle-parity sweep, golden pins and light behavior modules — the
# set the external verify harness must finish inside its window.
test:
	SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q

# Driver tier exactly as the external harness runs it.
test-driver-tier:
	python -m pytest tests/ -x -q

# Driver-contract simulation from a neutral cwd (catches executor-side
# import failures that repo-cwd runs mask).
driver-sim:
	cd /tmp && python3 $(CURDIR)/tests/driver_sim.py

# MANDATORY before rotating queries into the driver window: the oracle
# type guard (the driver hash is type-sensitive — repr-normalizing local
# compares miss HUGEINT drift; round-8 lesson) plus a driver-sim limited
# to exactly list(queries())[:50], the slice the real driver snapshots.
window-check:
	python -m pytest tests/test_oracle_types.py -q
	cd /tmp && python3 $(CURDIR)/tests/driver_sim.py --window

bench:
	python bench.py
