#!/usr/bin/env bash
# Round-close ritual: build the benchmark, run the suite and one run of
# each benchmark workload, then regenerate plans/fingerprints.tsv and
# stamp it with the src/main tree it was generated from, so plan-affecting
# changes can never ship with a stale fingerprint file
# (tools/check_plans.sh fails until the next regen).
#
# Order matters: the GATES (benchmark build, tests, benchmark runs) run
# FIRST — a failing close must not leave a half-updated working tree with
# a regenerated, stamped file.
#
# Usage: tools/close.sh [sfDir]     (default /root/testdata/sf0.001)
# Then:  tools/check_plans.sh       fails while the file predates the last
#                                   src/main change — run both at close.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.001}"
TREE=$(tools/check_plans.sh --tree)
mkdir -p target
# Session memos live in one store (graft.SessionMemos). A session-keyed
# map or set declared anywhere else is a second memo path with its own
# release hook, which the store's families and releaseAll cannot see.
if MEMO_MAPS=$(grep -rnE 'TrieMap\.empty\[\(SparkSession|Set\.empty\[\(SparkSession' \
    src/main --include='*.scala' | grep -v '^src/main/scala/graft/SessionMemos\.scala:'); then
  echo "$MEMO_MAPS"
  echo "close.sh: session-keyed memo outside graft.SessionMemos — make it a SessionMemos family" >&2
  exit 1
fi
# The benchmark compiles all of src/main plus its harness with Spark's
# bundled scalac, not sbt (graftbench/build.py, into the git-ignored
# graftbench/.work/): a change that breaks only that build, or a harness
# call into src/main, passes the sbt suite. Build it first.
if ! python3 graftbench/build.py > target/close-bench-build.log 2>&1; then
  tail -30 target/close-bench-build.log
  echo "close.sh: BENCHMARK BUILD FAILED on src/main tree $TREE — log: target/close-bench-build.log" >&2
  exit 1
fi
# Closing test count, recorded MECHANICALLY: run the suite on this exact
# src/main tree and append the verbatim result to BASELINE.md. Appending
# (not editing prose) keeps the record append-only and un-breakable by
# format drift; the newest stamped block is the authoritative count.
# The log stays in target/ (ignored by git) for a failed run's post-mortem.
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
# One run of each benchmark workload on this tree: a harness that builds
# but fails at run time (session build, a query, an oracle check) must
# fail the close, not the next benchmark comparison.
for w in f1_dag query_mix; do
  if ! python3 graftbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 \
      > "target/close-bench-$w.log" 2>&1 ||
     ! tail -1 "target/close-bench-$w.log" | python3 -c \
      'import json, sys; sys.exit(0 if json.loads(sys.stdin.read())["correct"] else 1)'; then
    tail -30 "target/close-bench-$w.log"
    echo "close.sh: BENCHMARK RUN FAILED ($w) on src/main tree $TREE — log: target/close-bench-$w.log" >&2
    exit 1
  fi
  echo "close.sh: graftbench $w ran clean"
done
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
