#!/usr/bin/env bash
# Bench / sf1-probe launcher with the two hygiene gates the perf record
# depends on (VERDICT r9 #8 and #3; PLANS.md "probe-batch hygiene"):
#
#   1. REFUSE to start while src/main is dirty — r9 invalidated 9 sf1
#      probe runs because a src/main edit landed mid-batch, making the
#      measured binary unattributable to any commit.
#   2. For ANCHOR runs (BENCH_ANCHOR=1), refuse unless 1-min loadavg
#      < 2.0 — the committed baseline must be a quiet-window number,
#      re-established at most once per round.
#
# Usage:
#   tools/bench.sh [query ...]            # full or subset bench run
#   SPARK_GRAFT_SF_DIR=... tools/bench.sh # other scale factors
#   BENCH_ANCHOR=1 tools/bench.sh         # loadavg-gated anchor run
#
#   3. NEVER lose a bracket (VERDICT r14 #1): Bench writes the
#      canonical bench_out.json / bench_min.json names (the driver
#      contract), so a follow-up run used to clobber an uncommitted
#      bracket — exactly how r14's quietest close bracket (332.9 s)
#      was lost and the noisiest (377.5 s) got committed. Now:
#        a. BEFORE the run, any bench_{out,min}.json that differs from
#           HEAD is archived to bench_runs/<name>.prev.<ts>.json.
#        b. AFTER the run, the fresh maps are copied to
#           bench_runs/<name>.<ts>.<head>.json (run-stamped, append-
#           only — nothing in this script ever overwrites an archive).
#      Promotion to the anchor is EXPLICIT: `git add bench_out.json
#      bench_min.json` + commit. bench_runs/ is the local audit trail.
set -euo pipefail
cd "$(dirname "$0")/.."

if ! git diff --quiet HEAD -- src/main build.sbt; then
  echo "bench.sh: REFUSING to run — src/main (or build.sbt) is dirty." >&2
  echo "Commit first so the measurement is attributable (PLANS.md rule)." >&2
  exit 1
fi

if [ "${BENCH_ANCHOR:-0}" = "1" ]; then
  load=$(cut -d' ' -f1 /proc/loadavg)
  if awk -v l="$load" 'BEGIN { exit !(l >= 2.0) }'; then
    echo "bench.sh: REFUSING anchor run — loadavg $load >= 2.0." >&2
    echo "An anchor must be a quiet-window number (VERDICT r9 #3)." >&2
    exit 1
  fi
  echo "bench.sh: anchor run, loadavg $load, HEAD $(git rev-parse --short HEAD)"
fi

ts=$(date +%Y%m%dT%H%M%S)
head=$(git rev-parse --short HEAD)
mkdir -p bench_runs
for f in bench_out.json bench_min.json BENCH_SUMMARY.json; do
  if [ -f "$f" ] && ! git diff --quiet HEAD -- "$f"; then
    cp "$f" "bench_runs/${f%.json}.prev.$ts.json"
    echo "bench.sh: archived uncommitted $f -> bench_runs/${f%.json}.prev.$ts.json"
  fi
done

# set -e exits here on sbt failure; a partial bench_out.json left
# behind is then caught by the pre-run prev-archive of the NEXT run.
sbt "runMain graft.Bench $*"

for f in bench_out.json bench_min.json BENCH_SUMMARY.json; do
  if [ -f "$f" ]; then
    cp "$f" "bench_runs/${f%.json}.$ts.$head.json"
  fi
done
echo "bench.sh: maps archived as bench_runs/bench_{out,min}.$ts.$head.json (promote with git add/commit)"

# 4. Cache-hygiene and failure gates (VERDICT r16 #2): Bench sweeps
#    resident RDDs between queries and records any query whose residue
#    is not in CacheHygiene.expectedResidue (a broken release() call
#    site), and names every query that threw (timed as -1 and left out
#    of the total, so a failure would otherwise read as a faster run).
#    Both fail AFTER archiving so the run is never lost.
gate() {
  python3 -c "
import json,sys
try: d=json.load(open('BENCH_SUMMARY.json'))
except Exception: sys.exit(0)
print(' '.join(d.get('$1',[])))"
}
status=0
leaks=$(gate cache_leaks)
if [ -n "$leaks" ]; then
  echo "bench.sh: CACHE-HYGIENE LEAK in: $leaks" >&2
  echo "(unexpected resident RDDs after these queries — see stderr LEAK lines; fix the release site or document in CacheHygiene.expectedResidue)" >&2
  status=1
fi
failed=$(gate failed)
if [ -n "$failed" ]; then
  echo "bench.sh: FAILED queries: $failed" >&2
  echo "(these queries threw — see stderr [bench] FAILED lines)" >&2
  status=1
fi
exit $status
