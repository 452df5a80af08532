#!/usr/bin/env bash
# Net change in non-blank, non-comment lines of the Scala and Java sources
# under src/main, from a git revision to the working tree (uncommitted and
# untracked files included). A line whose first non-blank characters are
# `//`, `/*` or `*` (doc-comment bodies and closers) counts as a comment.
#   tools/ncloc_delta.sh <base-rev>
set -euo pipefail
cd "$(dirname "$0")/.."
base=${1:?usage: tools/ncloc_delta.sh <base-rev>}
ncloc() { grep -cvE '^[[:space:]]*($|//|/\*|\*)' || true; }
before=$(git ls-tree -r --name-only "$base" -- src/main | grep -E '\.(scala|java)$' |
  while read -r f; do git show "$base:$f"; done | ncloc)
after=$(git ls-files -co --exclude-standard -- src/main | grep -E '\.(scala|java)$' |
  while read -r f; do if [[ -f $f ]]; then cat "$f"; fi; done | ncloc)
echo "src/main ncloc: $base $before, working tree $after, net $((after - before))"
