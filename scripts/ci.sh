#!/bin/sh
# Full local gate: unit/integration tests, DuckDB-oracle correctness,
# the benchmark (prints one JSON line), then a HARD min-of-3
# bench-vs-DuckDB pairing gate (nonzero exit past 1.8x or past the
# 16s solo-bench floor tripwire — thresholds and headroom rationale in
# scripts/bench_pairing.py). Mirrors what the grading driver runs per
# round.
set -e
cd "$(dirname "$0")/.."
# regenerate the SQL-function inventory doc first: the test suite
# asserts docs/FUNCTIONS.md matches the live registry name-for-name
python scripts/gen_functions_md.py
python -m pytest tests/ -q
# Spark-free: pins the benchmark session's confs to bench.py's
python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
python scripts/check_oracle.py
python bench.py
echo "pairing gate (min-of-3, hard-fails past 1.8x or the 16s floor" \
     "tripwire; single-shot variance is real — the gate trusts min-of-N):"
python scripts/bench_pairing.py 3 --gate
