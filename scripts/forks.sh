#!/bin/sh
# Count the helper processes a command forks. Runs CMD with PATH shims for
# chmod, readlink, ls, stat and bash: each shim logs its name and execs the
# real binary. Only the child's PATH changes; programs that call a binary by
# its absolute path are not counted. Prints "<count> <name>" per shimmed
# command on stderr when the command ends, and exits with its status.
#
#   scripts/forks.sh python3 perfbench/run.py --workload many_keys --seed 1
set -eu
[ $# -gt 0 ] || { echo "usage: $0 CMD [ARG...]" >&2; exit 2; }
names="chmod readlink ls stat bash"
dir=$(mktemp -d "${TMPDIR:-/tmp}/forks.XXXXXX")
trap 'rm -rf "$dir"' EXIT
log="$dir/calls"
: > "$log"
for name in $names; do
  real=$(command -v "$name") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$name" "$log" "$real" > "$dir/$name"
  chmod +x "$dir/$name"
done
status=0
PATH="$dir:$PATH" "$@" || status=$?
for name in $names; do
  printf '%7d %s\n' "$(grep -cx "$name" "$log" || true)" "$name" >&2
done
exit $status
