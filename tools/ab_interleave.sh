#!/bin/bash
# Interleaved A/B of two checkouts through the benchmark; the protocol
# and its decision rule are in README.md, "Measuring a change".
#
# Usage: tools/ab_interleave.sh TREE_A TREE_B [PAIRS] [OUT]
#   TREE_A, TREE_B  checkouts of the parent commit and of the change
#   PAIRS           pairs per workload (default 10): pair i runs seed i
#                   on both trees, tree A first when i is odd
#   OUT             output directory (default: a new one under $TMPDIR)
#
# Runs every workload of TREE_A's BENCHMARK.json with --trace 0.  Keeps
# each run's stdout and stderr as OUT/<workload>.<a|b>.<pair>.{out,err}
# and its start, end and exit status in OUT/slots.log.
# Then: python3 tools/ab_analyze.py OUT
set -u
A=$(cd "${1:?TREE_A}" && pwd) || exit 1
B=$(cd "${2:?TREE_B}" && pwd) || exit 1
PAIRS=${3:-10}
OUT=${4:-$(mktemp -d -t ab.XXXXXX)}
mkdir -p "$OUT"
read -r RUN_S WORKLOADS < <(python3 -c '
import json, sys
spec = json.load(open(sys.argv[1]))
print(spec["run_seconds"], *[w["name"] for w in spec["workloads"]])
' "$A/BENCHMARK.json")

slot() {  # TREE SIDE WORKLOAD PAIR
  local base="$OUT/$3.$2.$4"
  echo "$(date +%T) start $3 $2 pair $4" >> "$OUT/slots.log"
  (cd "$1" && python3 perfbench/run.py --workload "$3" --seed "$4" \
    --seconds "$RUN_S" --trace 0) > "$base.out" 2> "$base.err"
  echo "$(date +%T) end $3 $2 pair $4 exit $?" >> "$OUT/slots.log"
}

for p in $(seq 1 "$PAIRS"); do
  for w in $WORKLOADS; do
    if [ $((p % 2)) -eq 1 ]; then
      slot "$A" a "$w" "$p"; slot "$B" b "$w" "$p"
    else
      slot "$B" b "$w" "$p"; slot "$A" a "$w" "$p"
    fi
  done
done
echo "$OUT"
