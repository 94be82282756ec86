#!/usr/bin/env bash
# Pre-snapshot gate: refuse to bless a tree that hasn't passed
# compile -> test -> Verify -> DuckDB oracle check -> Bench JSON contract
# on the EXACT diff.
# Round 3 shipped a commit last compiled 3 minutes before the snapshot
# and zeroed the official gate; this script makes that impossible.
#
# Usage: tools/gate.sh [sfDir] [outDir]
#   sfDir  defaults to /root/testdata/sf0.01 (the driver's gate SF)
#   outDir defaults to out/gate
# Exit 0 = safe to commit/snapshot. Nonzero = DO NOT.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-out/gate}"

tools/warm_jars.sh || true

echo "== gate: sbt compile + test =="
sbt -batch "Test/compile" test

echo "== gate: Verify @ $SF -> $OUT =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $(pwd)/$OUT"

echo "== gate: DuckDB oracle check =="
python3 tools/check.py "$SF" "$OUT" | tee "$OUT/check.log"
if grep -q "FAIL" "$OUT/check.log"; then
  echo "GATE REFUSED: oracle mismatches above" >&2
  exit 1
fi
SMOKE_SF="$(dirname "$SF")/sf0.001"
echo "== gate: Bench contract smoke @ $SMOKE_SF =="
SPARK_GRAFT_SF_DIR="$SMOKE_SF" sbt -batch "runMain graft.Bench" \
  | sed 's/^\[info\] //' | grep '^{' | tail -1 | python3 -c '
import json, sys
s = json.load(sys.stdin)
keys = ["metric", "value", "unit", "cold_total", "single_pass_total",
        "warm_total_queries", "n_queries", "n_warm_measured", "degraded",
        "n_failed", "n_single_pass", "n_stall_suspect", "n_stall_suspect_cold",
        "n_rescued", "n_skipped_wall", "elapsed_s", "sha", "summary_of", "sf",
        "cpus", "pool"]
missing = [k for k in keys if k not in s]
if missing or s["n_failed"] != 0 or s["n_skipped_wall"] != 0:
    sys.exit("GATE REFUSED: Bench summary missing %s, n_failed=%s, n_skipped_wall=%s"
             % (missing, s.get("n_failed"), s.get("n_skipped_wall")))
'
echo "== gate: all green — safe to commit =="
