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
# one derived-artifact store (data/ModelStore.get): no line of code under
# queries/ or jobs/ may hold its own memo map or set, and none anywhere in
# src/main may key a path on a 32-bit hashCode (comments may mention them)
if grep -rnE --include='*.scala' \
    'ConcurrentHashMap|TrieMap|IdentityHashMap|newKeySet' \
    src/main/scala/graft/queries src/main/scala/graft/jobs \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)'; then
  echo "full_gate: memo map/set under queries/ or jobs/; use data/ModelStore.get" >&2
  exit 1
fi
if grep -rnE --include='*.scala' 'math\.abs\([^)]*hashCode' src/main \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)'; then
  echo "full_gate: hashCode-keyed path in src/main; use data/ModelStore.get" >&2
  exit 1
fi
# an index is its directory and its marker: no line of code under connectors/
# may register, describe, refresh or look up a catalog table
if grep -rnE --include='*.scala' \
    'saveAsTable|REFRESH TABLE|DESCRIBE TABLE|CREATE TABLE|tableExists' \
    src/main/scala/graft/connectors \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)'; then
  echo "full_gate: catalog statement under connectors/; Bucketing's marker describes an index" >&2
  exit 1
fi
# one keyed-state API with one wiring: no line of code in src/main may call
# flatMapGroupsWithState, and none outside stateful/Processors.scala (whose
# `keyed` is the wiring) may call transformWithState
if grep -rn --include='*.scala' 'flatMapGroupsWithState' src/main \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)'; then
  echo "full_gate: flatMapGroupsWithState in src/main; use Processors.keyed" >&2
  exit 1
fi
if grep -rn --include='*.scala' '\.transformWithState(' src \
    | grep -v '^src/main/scala/graft/stateful/Processors\.scala:' \
    | grep -Ev '^[^:]+:[0-9]+:[[:space:]]*(\*|//|/\*)'; then
  echo "full_gate: transformWithState outside stateful/Processors.scala; use Processors.keyed" >&2
  exit 1
fi
# test-time budget: the full suite must finish inside a 2670 s timeout, so a run
# over 90% of that (2400 s) fails here instead of silently on the timeout
TEST_LOG=/tmp/graft_gate_tests.log
TEST_START=$(date +%s)
sbt -batch "testOnly * -- -oD" 2>&1 | tee "$TEST_LOG"
TEST_SECS=$(( $(date +%s) - TEST_START ))
echo "full_gate: testOnly took ${TEST_SECS}s; slowest tests:"
python3 - "$TEST_LOG" <<'PY'
import re, sys
unit_ms = {"hour": 3600000, "minute": 60000, "second": 1000, "millisecond": 1}
rows = []
for line in open(sys.argv[1], errors="replace"):
    m = re.match(r"\[info\] - (.*) \(([^()]*)\)\s*$", line)
    if m:
        parts = re.findall(r"(\d+) (hour|minute|second|millisecond)s?", m.group(2))
        if parts:
            rows.append((sum(int(n) * unit_ms[u] for n, u in parts), m.group(1)))
for ms, name in sorted(rows, reverse=True)[:5]:
    print(f"  {ms / 1000:8.1f} s  {name}")
PY
if [ "$TEST_SECS" -gt 2400 ]; then
  echo "full_gate: testOnly took ${TEST_SECS}s, over the 2400 s budget (90% of the 2670 s test timeout)" >&2
  exit 1
fi
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
