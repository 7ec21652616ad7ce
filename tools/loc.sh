#!/usr/bin/env bash
# Code size of the program: non-blank, non-comment lines of every
# .scala file under src/main (a line is a comment line when it starts
# with //, /* or *). Prints the total, then the 15 largest files.
# Run from anywhere: tools/loc.sh
set -euo pipefail
cd "$(dirname "$0")/.."
count() { grep -v '^\s*$' "$@" | grep -cv '^\s*\(//\|/\*\|\*\)' || true; }
files=$(find src/main -name '*.scala' | sort)
total=$(cat $files | count)
echo "total $total"
for f in $files; do
  echo "$(count "$f") $f"
done | sort -rn | head -15
