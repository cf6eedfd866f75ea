#!/usr/bin/env bash
# Full local verification: test suite, driver-gate parity at two SFs
# (including vanilla-session rehearsal), and the bench harness.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== benchmark tests =="
python -m pytest perfbench/tests -q

echo "== parity sf0.001 =="
python scripts/check_parity.py /root/testdata/sf0.001 2>/dev/null | grep -E '^(ok|FAIL|==)'

echo "== parity sf0.01 (driver gate) =="
python scripts/check_parity.py /root/testdata/sf0.01 2>/dev/null | grep -E '^(ok|FAIL|==)'

echo "== parity sf0.01 vanilla session =="
python scripts/check_parity.py /root/testdata/sf0.01 --vanilla 2>/dev/null | grep -E '^=='

echo "== bench =="
OPENBLAS_NUM_THREADS=1 python bench.py 2>/dev/null | tail -1
