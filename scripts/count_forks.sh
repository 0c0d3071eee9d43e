#!/usr/bin/env bash
# Count the chmod, readlink, ls, stat and rm processes a command starts.
#
#   scripts/count_forks.sh <command...>
#
# Each of those binaries is shadowed on PATH by a wrapper that logs one line
# and execs the real binary, so the command behaves as without the wrappers.
# Only processes started by name through PATH are counted; that is how
# Hadoop's Shell (chmod, ls, stat, readlink) and Spark (rm -rf) start them.
# After the command exits, prints one "<binary> <count>" line per binary and
# exits with the command's status.
set -euo pipefail
[ $# -gt 0 ] || { echo "usage: $0 <command...>" >&2; exit 2; }

bins=(chmod readlink ls stat rm)
real_rm=$(command -v rm)
dir=$(mktemp -d)
trap '"$real_rm" -rf "$dir"' EXIT
mkdir "$dir/bin"
for b in "${bins[@]}"; do
  real=$(command -v "$b")
  printf '#!/bin/sh\necho >> "%s/%s.log"\nexec "%s" "$@"\n' "$dir" "$b" "$real" > "$dir/bin/$b"
  chmod +x "$dir/bin/$b"
  : > "$dir/$b.log"
done

status=0
PATH="$dir/bin:$PATH" "$@" || status=$?
for b in "${bins[@]}"; do
  echo "$b $(wc -l < "$dir/$b.log")"
done
exit "$status"
