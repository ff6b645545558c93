.PHONY: test test-full check check-smoke bench smoke lint examples

# default tier: slow-tier tests (tests/conftest.py SLOW_TIER_NODE_IDS)
# are skipped so the run fits a CI/verify window (~14 min)
test:
	python -m pytest tests/ -q

# the builder's gate: EVERY test, ~28 min — run before committing
# changes to operator internals
test-full:
	WIMBD_FULL_TESTS=1 python -m pytest tests/ -x -q

check:
	python tools/check_oracles.py

check-smoke:
	python tools/check_oracles.py /root/testdata/sf0.001

bench:
	python bench.py

# the source lints; WIMBD_FULL_TESTS=1 because the registry window lint
# is in the slow tier
lint:
	WIMBD_FULL_TESTS=1 python -m pytest -q -p no:cacheprovider \
		tests/test_env_lint.py tests/test_window_lint.py

smoke:
	python -c "import __spark_entry__ as e; from wimbd_spark import get_spark; \
s = get_spark(master='local[4]', shuffle_partitions=4); \
df = e.entry(s); print(df.count(), 'rows'); s.stop()"

examples:
	for f in examples/*.py; do echo "== $$f"; python $$f || exit 1; done
