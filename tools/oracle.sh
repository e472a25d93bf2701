#!/bin/bash
# Oracle gate: graft.Verify writes every catalog query's output for one
# fixture dir, tools/compare.py checks each against its DuckDB twin, and the
# script fails on any mismatch, on a failed query, or on any ERROR line in
# Verify's log. Runs from the compiled classes (`sbt compile` first).
# Usage: tools/oracle.sh <sf_dir> [out_dir]   (out_dir kept if given)
set -uo pipefail
cd "$(dirname "$0")/.."
sf="${1:?usage: tools/oracle.sh <sf_dir> [out_dir]}"
if [ $# -ge 2 ]; then out="$2"; mkdir -p "$out"
else out="$(mktemp -d -t graft-oracle-XXXXXX)"; trap 'rm -rf "$out"' EXIT; fi
tools/run_main.sh graft.Verify "$sf" "$out/q" >"$out/verify.log" 2>&1
verify=$?
python3 tools/compare.py "$out/q" "$sf" >"$out/compare.log" 2>&1
compare=$?
errors=$(grep -c ' ERROR ' "$out/verify.log")
grep -E '^(FAIL|ERROR|MISSING) ' "$out/compare.log"
grep -E '\[verify\].*failed' "$out/verify.log"
tail -n 1 "$out/compare.log"
echo "$errors ERROR lines in Verify's log"
[ "$verify" -eq 0 ] && [ "$compare" -eq 0 ] && [ "$errors" -eq 0 ]
