#!/bin/bash
# Standing stress check for the MOR commit path and the serving tier's
# block lifetime: run the suites that pin their concurrency claims N
# times (default 5) and report each iteration. Served blocks are
# lineage-free, so their lifetime rests on the pin protocol that
# SharedBlocksSpec and IncrementalServingSpec exercise. Exits non-zero
# if any iteration failed. Run it before merging any change to
# VectorDB's commit path, its serving tier or MorTable's read path,
# ideally with background load (e.g. a benchmark draw) on the box.
#
#   scripts/stress_commit_path.sh [N]
#
# Each iteration's sbt output is kept in $STRESS_LOG_DIR (default: a
# fresh temp dir, printed at the start) as iter-<i>.log.
set -u
cd "$(dirname "$0")/.."
n="${1:-5}"
logs="${STRESS_LOG_DIR:-$(mktemp -d -t stress_commit_path.XXXXXX)}"
mkdir -p "$logs"
suites="graft.ConcurrentReadWriteSpec graft.WriterLeaseHammerSpec graft.CrossJvmSpec graft.SharedBlocksSpec graft.IncrementalServingSpec"
echo "[stress] $n iterations of: $suites (logs in $logs)"
fails=0
for i in $(seq 1 "$n"); do
  start=$(date +%s)
  if sbt -batch "testOnly $suites" > "$logs/iter-$i.log" 2>&1 \
      && grep -q "All tests passed" "$logs/iter-$i.log"; then
    status=pass
  else
    status=FAIL
    fails=$((fails + 1))
  fi
  summary=$(grep -E "Tests: succeeded" "$logs/iter-$i.log" | tail -1 | sed 's/^\[info\] //')
  echo "[stress] iteration $i/$n: $status ($(( $(date +%s) - start ))s) ${summary}"
done
echo "[stress] $((n - fails))/$n passed"
[ "$fails" -eq 0 ]
