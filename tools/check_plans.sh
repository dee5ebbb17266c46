#!/usr/bin/env bash
# Freshness gate for plans/fingerprints.tsv (one `name<TAB>fingerprint`
# line per registered query, written by graft.Explain): fails unless the
# file was generated from exactly the src/main tree checked out now. The
# stamp (plans/fingerprints.stamp) records the git tree hash of src/main
# at generation, so any later change under src/main, committed or not,
# makes the file stale. A tree hash rather than a commit id: a change and
# its regenerated file land in one commit, which no stamp inside that
# commit can name. Run as the final step of tools/close.sh and any time
# before citing the file.
#
# Usage: tools/check_plans.sh          check freshness
#        tools/check_plans.sh --tree   print the src/main tree hash
set -euo pipefail
cd "$(dirname "$0")/.."

# Hash the working tree's src/main through a throwaway index, so the
# real index is never touched.
src_main_tree() {
  local idx
  idx=$(mktemp)
  cp "$(git rev-parse --git-dir)/index" "$idx"
  GIT_INDEX_FILE="$idx" git add -A src/main
  GIT_INDEX_FILE="$idx" git write-tree --prefix=src/main/
  rm -f "$idx"
}

if [ "${1:-}" = "--tree" ]; then
  src_main_tree
  exit 0
fi
FILE=plans/fingerprints.tsv
STAMP=$(grep -m1 '^src/main tree: ' plans/fingerprints.stamp 2>/dev/null | awk '{print $3}' || true)
if [ ! -s "$FILE" ] || [ -z "$STAMP" ]; then
  echo "check_plans.sh: $FILE or its 'src/main tree:' stamp in" >&2
  echo "plans/fingerprints.stamp is missing — regenerate with tools/close.sh" >&2
  exit 1
fi
NOW=$(src_main_tree)
if [ "$STAMP" != "$NOW" ]; then
  echo "check_plans.sh: $FILE is STALE — it was generated from src/main tree" >&2
  echo "  $STAMP" >&2
  echo "but src/main is now tree" >&2
  echo "  $NOW" >&2
  echo "Re-run tools/close.sh." >&2
  exit 1
fi
echo "check_plans.sh: $FILE is fresh (stamp $STAMP is the current src/main tree)"
