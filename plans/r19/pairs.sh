#!/bin/bash
# Alternating perfbench pairs: parent checkout vs change checkout, the side
# that runs first alternating per pair, seed = pair number.
# usage: pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD NPAIRS OUT.jsonl
parent=$1; change=$2; w=$3; n=$4; out=$5; : > "$out"
for i in $(seq 1 "$n"); do
  if [ $((i % 2)) = 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    d=$parent; [ "$side" = change ] && d=$change
    line=$(cd "$d" && timeout 300 python3 perfbench/run.py --workload "$w" --seed "$i" --seconds 10 --trace 0 2>/dev/null | tail -1)
    echo "{\"pair\": $i, \"side\": \"$side\", \"result\": ${line:-null}}" >> "$out"
  done
done
