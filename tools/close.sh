#!/usr/bin/env bash
# Round-close ritual: run the suite, then regenerate plans/fingerprints.tsv
# and stamp it with the src/main tree it was generated from, so
# plan-affecting changes can never ship with a stale fingerprint file
# (tools/check_plans.sh fails until the next regen).
#
# Order matters: the TEST GATE runs FIRST — a failing close must not leave
# a half-updated working tree with a regenerated, stamped file.
#
# Usage: tools/close.sh [sfDir]     (default /root/testdata/sf0.001)
# Then:  tools/check_plans.sh       fails while the file predates the last
#                                   src/main change — run both at close.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.001}"
TREE=$(tools/check_plans.sh --tree)
# Closing test count, recorded MECHANICALLY: run the suite on this exact
# src/main tree and append the verbatim result to BASELINE.md. Appending
# (not editing prose) keeps the record append-only and un-breakable by
# format drift; the newest stamped block is the authoritative count.
# The log stays in target/ (ignored by git) for a failed run's post-mortem.
mkdir -p target
TEST_LOG=target/close-test.log
if ! sbt -batch test > "$TEST_LOG" 2>&1; then
  # Each failed or aborted test, under its suite's name, with the lines
  # ScalaTest indents beneath it (assertion message, source line); then
  # the run's summary.
  awk '/^\[info\] [A-Za-z0-9_.]+:$/ { suite = $2; next }
       /\*\*\* (FAILED|ABORTED) \*\*\*/ { print suite; print; inblock = 1; next }
       inblock && /^\[info\]   / { print; next }
       { inblock = 0 }' "$TEST_LOG"
  tail -15 "$TEST_LOG"
  echo "close.sh: TEST SUITE FAILED on src/main tree $TREE — fix before closing; log: $TEST_LOG" >&2
  exit 1
fi
mkdir -p plans
sbt -batch "runMain graft.Explain $SF_DIR plans/fingerprints.tsv"
printf 'src/main tree: %s\nscale dir: %s\n' "$TREE" "$SF_DIR" > plans/fingerprints.stamp
echo "close.sh: plans/fingerprints.tsv regenerated and stamped at src/main tree $TREE"
tools/check_plans.sh
{
  echo ""
  echo "### Closing test count (tools/close.sh on src/main tree $TREE)"
  grep -E "^\[info\] (Tests:|Suites:|Passed:)" "$TEST_LOG" | sed 's/^\[info\] //'
} >> BASELINE.md
echo "close.sh: closing test count appended to BASELINE.md"
echo "close.sh: done — commit plans/fingerprints.tsv, its stamp and BASELINE.md"
