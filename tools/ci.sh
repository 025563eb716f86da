#!/usr/bin/env bash
# One-command reproduction of the full green state, for a fresh session:
#
#   tools/ci.sh            # compile + 285-key Verify + DuckDB oracle sweep
#                          #   of the 264 oracle-checked keys at sf0.001
#                          #   (~2 min)
#   tools/ci.sh --full     # ... plus the entry smoke, the whole
#                          #   scalatest suite, a traced table_io
#                          #   benchmark run and an untraced mining one
#                          #   (~13 min)
#   tools/ci.sh --sf <dir> # run the sweep against another sf dir
#
# The sweep is the driver's own correctness gate: graft.Verify dumps every
# SparkEntry.queries result to parquet plus oracle_sql.json, and
# tools/check.py replays each oracle in DuckDB 1.0.0 and compares
# row-by-row (columns sorted by name, exact values). Exit code 0 = green.
set -euo pipefail
cd "$(dirname "$0")/.."

SF=/root/testdata/sf0.001
FULL=0
while [[ $# -gt 0 ]]; do
  case "$1" in
    --full) FULL=1; shift ;;
    --sf) SF="$2"; shift 2 ;;
    *) echo "usage: tools/ci.sh [--full] [--sf <dir>]" >&2; exit 2 ;;
  esac
done
OUT=$(mktemp -d /tmp/graft_ci.XXXXXX)
trap 'rm -rf "$OUT"' EXIT

echo "[ci] compile"
sbt -batch compile

echo "[ci] verify: dump all query results + oracles at $SF"
# a private index dir: the sweep checks what this checkout builds, not
# artifacts another checkout cached
SPARK_GRAFT_INDEX_DIR="$OUT/index" sbt -batch "runMain graft.Verify $SF $OUT"

echo "[ci] oracle sweep: DuckDB compare"
python3 tools/check.py "$SF" "$OUT"

if [[ $FULL -eq 1 ]]; then
  echo "[ci] entry smoke"
  sbt -batch "runMain graft.Dev smoke" | grep -q "pass=true"
  echo "[ci] scalatest suite"
  sbt -batch test
  echo "[ci] traced table_io benchmark: result fingerprints and storage checks"
  python3 perfbench/run.py --workload table_io --seed 1 --seconds 12 --trace 1
  echo "[ci] mining benchmark: result fingerprints of the itemset, rule and sequence keys"
  python3 perfbench/run.py --workload mining --seed 1 --seconds 5 --trace 0
fi
echo "[ci] GREEN"
