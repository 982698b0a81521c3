#!/usr/bin/env bash
# Non-comment, non-blank lines added and removed per file between a git
# ref and the working tree (untracked files count as wholly added).
#
#   scripts/code_lines.sh <ref> [paths...]
#
# A line counts when, after trimming leading whitespace, it is not empty
# and does not start with a comment marker: `//`, `/*`, `*` (Scala, Java)
# or `#` (shell, Python, sbt-less configs). Prints one row per changed
# file — added, removed, net — and a total row. Run from the repo root.
set -euo pipefail

if [ $# -lt 1 ]; then
  echo "usage: $0 <ref> [paths...]" >&2
  exit 2
fi
ref=$1
shift
git rev-parse --verify --quiet "$ref^{commit}" >/dev/null ||
  { echo "unknown ref: $ref" >&2; exit 2; }

{
  git diff --no-color --no-ext-diff -U0 "$ref" -- "$@"
  git ls-files --others --exclude-standard -- "$@" | while read -r f; do
    printf "diff --git a/%s b/%s\n@@ untracked @@\n" "$f" "$f"
    sed 's/^/+/' "$f"
  done
} | awk '
  function code(line,   t) {
    t = line
    sub(/^[ \t]+/, "", t)
    if (t == "") return 0
    if (t ~ /^(\/\/|\/\*|\*|#)/) return 0
    return 1
  }
  /^diff --git / {
    f = $NF; sub(/^b\//, "", f); hdr = 1
    if (!(f in add)) { order[++n] = f; add[f] = 0; del[f] = 0 }
    next
  }
  /^@@/ { hdr = 0; next }
  hdr { next }
  /^\+/ { if (code(substr($0, 2))) add[f]++; next }
  /^-/  { if (code(substr($0, 2))) del[f]++; next }
  END {
    printf "%8s %8s %8s  %s\n", "added", "removed", "net", "file"
    for (i = 1; i <= n; i++) {
      g = order[i]
      if (add[g] == 0 && del[g] == 0) continue
      printf "%8d %8d %+8d  %s\n", add[g], del[g], add[g] - del[g], g
      ta += add[g]; td += del[g]
    }
    printf "%8d %8d %+8d  %s\n", ta, td, ta - td, "total"
  }'
