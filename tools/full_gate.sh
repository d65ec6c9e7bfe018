#!/bin/bash
# The full local gate, in one command, stamping EVIDENCE.json on success
# (see tools/round_gate.py). Usage: tools/full_gate.sh [sf001Dir] [sf01Dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF001="${1:-/root/testdata/sf0.01}"
SF01="${2:-/root/testdata/sf0.1}"
OUT=/tmp/graft_gate_verify

sbt -batch "testOnly * -- -oD"
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify $SF001 $OUT"
python3 tools/check.py "$SF001" "$OUT"
SPARK_GRAFT_SF_DIR="$SF01" sbt -batch "runMain graft.Bench"
python3 tools/bench_compare.py bench_full.json
python3 tools/round_gate.py stamp
echo "full_gate: GREEN — EVIDENCE.json stamped; safe to commit the snapshot"
