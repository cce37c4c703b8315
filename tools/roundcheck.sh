#!/usr/bin/env bash
# One-command validation of a change before it is committed:
#
#   1. full pytest suite
#   2. full-registry driver_sim sweep (exact-hash, sf0.01 — the gate's own
#      canonicalization)
#   3. the driver's priority window in a vanilla session
#   4. bench smoke (JSON contract)
#
# Usage: tools/roundcheck.sh [--fast]   (--fast skips pytest)
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" != "--fast" ]]; then
    echo "== pytest =="
    python -m pytest tests/ -q
fi

echo "== full-registry sweep (sf0.01 exact-hash) =="
# --all enumerates the registry inside driver_sim (fails loudly on an
# import error)
python tools/driver_sim.py --all

echo "== driver priority window (vanilla session) =="
python tools/driver_sim.py --vanilla

echo "== bench smoke =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 BENCH_RUNS=1 BENCH_PREWARM=0 \
    python bench.py | python -c "import json,sys; d=json.loads(sys.stdin.read()); \
print('bench OK:', d['metric'], d['value'], 'sec,', len(d['queries']), 'queries')"

echo "ROUNDCHECK PASSED"
