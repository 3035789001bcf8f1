#!/bin/bash
# Close sweep for one round: 3-SF full-catalog oracle gate + types scan +
# local[5] determinism + the 32x fact and 8x corpus amplified gates +
# the REPL end-to-end leg — the reference README's example queries piped
# through the interactive binary against the reference's own example
# CSV, diffed against the pinned expected session.
#
# Usage: tools/run_sweep.sh <round> [testdata_dir] [reference_csv]
#   <round>         round label, e.g. 19 or r19; output goes to RUNLOG_r<round>.txt
#   testdata_dir    holds sf0.001/ sf0.01/ sf0.1/ (default: ../testdata
#                   beside the checkout)
#   reference_csv   the reference's example CSV (default:
#                   ../reference/examples/data/input.csv beside the checkout)
#
# Run detached (nohup) because the whole sequence exceeds interactive
# timeouts.
set -u
if [ $# -lt 1 ]; then
  echo "usage: $0 <round> [testdata_dir] [reference_csv]" >&2
  exit 2
fi
round="${1#r}"
repo="$(cd "$(dirname "$0")/.." && pwd)"
testdata="${2:-$repo/../testdata}"
ref_csv="${3:-$repo/../reference/examples/data/input.csv}"
noise="WARN|INFO|Using|Setting|To adjust|^\[Stage"
cd "$repo" || exit 1
{
  echo "=== RUNLOG r$round — full catalog sweep at HEAD $(git rev-parse --short HEAD) ($(date -u +%Y-%m-%dT%H:%MZ)) ==="
  # Keep EVERY per-query FAIL line (the runlog is the permanent failure
  # record — a tail cap would silently drop named failures past the cap)
  # plus the one aggregate summary line per leg.
  for sf in sf0.001 sf0.01 sf0.1; do
    echo "--- $sf ---"
    python tools/check_correctness.py "$testdata/$sf" 2>&1 \
      | grep -vE "$noise" \
      | grep -E "FAIL|ok, "
  done
  echo "--- types-only scan (sf0.01) ---"
  python tools/check_correctness.py "$testdata/sf0.01" --types-only 2>&1 | tail -2
  echo "--- local[5] determinism (sf0.01) ---"
  SPARK_GRAFT_CPUS=5 python tools/check_correctness.py "$testdata/sf0.01" 2>&1 \
    | grep -vE "$noise" \
    | grep -E "FAIL|ok, "
  echo "--- amplified correctness (sf0.1 x32, fact-bound gate) ---"
  python tools/amplified_correctness.py "$testdata/sf0.1" 32 2>&1 \
    | grep -vE "$noise" \
    | grep -E "FAIL|ok |failed at|wrote"
  echo "--- amplified correctness (sf0.1 x8, corpus-bound gate) ---"
  python tools/amplified_correctness.py --corpus "$testdata/sf0.1" 8 2>&1 \
    | grep -vE "$noise" \
    | grep -E "FAIL|ok |failed at|wrote"
  echo "--- REPL end-to-end (reference README queries vs pinned session) ---"
  if [ -f "$ref_csv" ]; then
    got="$(mktemp)"
    python -m simple_query_engine_spark.repl "$ref_csv" \
        < examples/repl_reference_session.txt 2>/dev/null \
      | grep -vE "$noise" > "$got"
    if diff -u examples/repl_expected_reference_session.txt "$got"; then
      echo "REPL leg: output identical to pinned session — ok"
    else
      echo "REPL leg: FAIL (diff above)"
    fi
    rm -f "$got"
  else
    echo "REPL leg: reference CSV absent ($ref_csv) — skipped"
  fi
  echo "=== sweep done ($(date -u +%Y-%m-%dT%H:%MZ)) ==="
} > "RUNLOG_r$round.txt" 2>&1
