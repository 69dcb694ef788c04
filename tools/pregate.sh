#!/bin/bash
# Mechanical pre-snapshot gate: refuses to let a red artifact ship.
#
# Runs, in order, and FAILS FAST on any red:
#   1. perfbench unit tests           (benchmark checks; seconds, no JVM)
#   2. sbt -batch compile             (build green)
#   3. sbt -batch test                (full ScalaTest suite green)
#   4. graft.Verify @ each sf         (correctness dump for all queries)
#   5. tools/check.py @ each sf       (DuckDB oracle: 0 fail required)
# Steps 4-5 run at sf0.01 AND sf0.001 by default: the loop kernels take
# a different path (driver finish or distributed loop) depending on
# input size, and reds have shown up at one scale but not the other.
#
# Usage: tools/pregate.sh [sfdir ...]
#        (default: sf0.01 and sf0.001 of the corpus in ../testdata beside
#        the checkout)
# Exit 0 = safe to snapshot/commit. Non-zero = DO NOT SHIP.
set -euo pipefail
DIR="$(cd "$(dirname "$0")/.." && pwd)"
DATA="$(cd "$DIR/.." && pwd)/testdata"
if [ "$#" -gt 0 ]; then SFS=("$@"); else SFS=("$DATA/sf0.01" "$DATA/sf0.001"); fi
OUT="$(mktemp -d /tmp/pregate.XXXXXX)"
cd "$DIR"

echo "== pregate 1/5: perfbench unit tests =="
UT_OUT="$(python3 -m unittest discover perfbench/tests 2>&1)" \
  || { echo "$UT_OUT" | tail -20; echo "PREGATE RED: perfbench unit tests failed"; exit 1; }
echo "$UT_OUT" | tail -1

echo "== pregate 2/5: sbt compile =="
sbt -batch compile 2>&1 | tail -2 | grep -q "\[success\]" \
  || { echo "PREGATE RED: compile failed"; exit 1; }

echo "== pregate 3/5: sbt test =="
TEST_OUT="$(sbt -batch test 2>&1 | tail -30 || true)"
echo "$TEST_OUT" | grep -E "Tests: succeeded|All tests passed" || true
echo "$TEST_OUT" | grep -q "All tests passed" \
  || { echo "PREGATE RED: sbt test not green"; exit 1; }

for SF in "${SFS[@]}"; do
  TAG="$(basename "$SF")"
  echo "== pregate 4/5: graft.Verify @ $SF =="
  tools/run.sh graft.Verify "$SF" "$OUT/verify-$TAG" 2> "$OUT/verify-$TAG.err" >/dev/null
  if grep -q "\[verify\]" "$OUT/verify-$TAG.err"; then
    echo "PREGATE RED: Verify @ $TAG logged per-query failures:"
    grep "\[verify\]" "$OUT/verify-$TAG.err"
    exit 1
  fi

  echo "== pregate 5/5: DuckDB oracle @ $SF =="
  CHECK="$(python3 tools/check.py "$SF" "$OUT/verify-$TAG" 2>&1 || true)"
  echo "$CHECK" | tail -1
  echo "$CHECK" | tail -1 | grep -qE ", 0 fail, 0 err," \
    || { echo "PREGATE RED: oracle mismatches/errs @ $TAG above"; exit 1; }
done

echo "PREGATE GREEN: safe to snapshot."
