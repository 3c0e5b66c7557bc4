PY ?= python

.PHONY: test preflight verify bench class-archive hooks round-gate leakgrep

# full local test suite (includes tests/test_oracle_parity.py, which
# sweeps ALL declared queries vs their DuckDB oracles at sf0.001 — the
# deferred-past-the-driver-window queries are value-checked here on
# every run, so they cannot regress silently). pytest.ini deselects the
# slow lane by default; -m "slow or not slow" runs both lanes.
test:
	$(PY) -m pytest tests/ -x -q -m "slow or not slow"

# driver-style sweep of every declared query at sf0.001 + sf0.01
# (exit != 0 on any oracle mismatch) — run before ending a round
preflight:
	$(PY) scripts/preflight.py /root/testdata/sf0.001
	$(PY) scripts/preflight.py /root/testdata/sf0.01

verify: test preflight

bench:
	$(PY) bench.py

# build the driver JVM's class-data archive if it is missing (one
# training pass), then print its key, path, size and whether a fresh JVM
# maps it; run before paired benchmark runs
class-archive:
	$(PY) -m legislative_bills_database_spark.jvm_archive

# grep for anything that must never ship (internal hosts/buckets/env
# vars); exits non-zero on a hit. api.legiscan.com is the public API the
# public reference itself calls — allowed.
# ADVICE r9 #4: the allowlist strips ONLY the exact allowed substring
# (sed) before re-grepping, so a genuine leak token sharing a line with
# the allowed host still trips the gate (the old `grep -v` dropped the
# whole line).
leakgrep:
	@! grep -rnE "s3://|gs://|internal\.|corp\.|anthropic|STAGING_BUCKET|PROD_BUCKET" \
		legislative_bills_database_spark/ tests/ scripts/ bench.py __spark_entry__.py \
		| sed 's/api\.legiscan\.com//g' \
		| grep -E "s3://|gs://|internal\.|corp\.|anthropic|STAGING_BUCKET|PROD_BUCKET" \
		|| (echo "LEAK HIT above" && exit 1)

# THE pre-snapshot gate (VERDICT r8 item #3): the r8 snapshot commit
# shipped a crashing query because only phase commits were gated. Run
# this before ANY end-of-round snapshot; paste its tail into ROUND_NOTES.
round-gate: leakgrep
	$(PY) -m pytest tests/ -q -m "slow or not slow"
	$(PY) scripts/preflight.py /root/testdata/sf0.001
	$(PY) scripts/preflight.py /root/testdata/sf0.01
	@echo "ROUND GATE: ALL GREEN"

# one-time: route git hooks through the committed .githooks/ directory
hooks:
	git config core.hooksPath .githooks
