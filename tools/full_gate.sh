#!/bin/bash
# The full local gate, in one command, stamping EVIDENCE.json on success
# (see tools/round_gate.py). Usage: tools/full_gate.sh [sf001Dir] [sf01Dir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF001="${1:-/root/testdata/sf0.01}"
SF01="${2:-/root/testdata/sf0.1}"
OUT=/tmp/graft_gate_verify

# one session factory: no line of code in src/main outside
# core/GraftSession.scala may build its own SparkSession (comments may)
if grep -rn --include='*.scala' 'SparkSession\.builder' src/main \
    | grep -v '^src/main/scala/graft/core/GraftSession\.scala:' \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)'; then
  echo "full_gate: SparkSession.builder outside core/GraftSession.scala" >&2
  exit 1
fi
sbt -batch "testOnly * -- -oD"
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify $SF001 $OUT"
python3 tools/check.py "$SF001" "$OUT"
# ProfileOne smoke: the per-job profiler still runs end to end
PROFILE="$(sbt -batch "runMain graft.ProfileOne s_ann_pq_ivf $SF001 1")"
echo "$PROFILE" | grep '^\[profile\] s_ann_pq_ivf rep1 ' \
  || { echo "full_gate: ProfileOne printed no s_ann_pq_ivf rep1 line" >&2; exit 1; }
# the cold bootstrap -> append -> serve chain of the curation faces on a
# seeded corpus, each face's output hash checked against its DuckDB oracle;
# the last stdout line is the run's JSON verdict
CURATION="$(python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 20 | tail -n 1)"
echo "$CURATION"
python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.argv[1])["correct"] is True else 1)' \
  "$CURATION" || { echo "full_gate: curation_batch is not correct" >&2; exit 1; }
SPARK_GRAFT_SF_DIR="$SF01" sbt -batch "runMain graft.Bench"
python3 tools/bench_compare.py bench_full.json
python3 tools/round_gate.py stamp
echo "full_gate: GREEN — EVIDENCE.json stamped; safe to commit the snapshot"
