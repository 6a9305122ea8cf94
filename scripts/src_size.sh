#!/usr/bin/env bash
# Size of the main source tree: for each FILE given and for src/main/scala
# as a whole, print total lines and code lines (non-blank lines whose first
# non-space characters are not `//`, `/*` or `*`), then the number of
# `.flatMapGroupsWithState[` call sites under src/main/scala and under its
# CEF engine (src/main/scala/graft/cef).
# Usage: scripts/src_size.sh [FILE...]
set -euo pipefail
cd "$(dirname "$0")/.."
count() { # prints "<lines> <code lines>" for the files named on stdin
  xargs -r awk '
    { n++ }
    /^[[:space:]]*$/ { next }
    /^[[:space:]]*(\/\/|\/\*|\*)/ { next }
    { c++ }
    END { printf "%d %d\n", n, c }'
}
printf '%8s %8s  %s\n' lines code path
sum_l=0; sum_c=0
for f in "$@"; do
  read -r l c < <(printf '%s\n' "$f" | count)
  printf '%8d %8d  %s\n' "$l" "$c" "$f"
  sum_l=$((sum_l + l)); sum_c=$((sum_c + c))
done
if [ "$#" -gt 1 ]; then printf '%8d %8d  %s\n' "$sum_l" "$sum_c" "(given files)"; fi
read -r l c < <(find src/main/scala -name '*.scala' | sort | count)
printf '%8d %8d  %s\n' "$l" "$c" "src/main/scala"
calls() { grep -rhoE '\.flatMapGroupsWithState\[' "$1" | wc -l; }
printf 'flatMapGroupsWithState[ call sites: %d in src/main/scala, %d in graft/cef\n' \
  "$(calls src/main/scala)" "$(calls src/main/scala/graft/cef)"
