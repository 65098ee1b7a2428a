#!/bin/bash
# Epoch control probe: every 9 minutes, run a filtered Bench of the
# control query (q_tpch_q9) and log its warm control run (`control_sec`
# and `control`, the ratio to its BENCH_REF row, from
# BENCH_DETAIL.partial.json) plus steal bookends to
# /tmp/control_log.txt. Run from the repository root. SPARK_GRAFT_CPUS
# matches the cpus_effective of the committed BENCH_REF capture, so the
# ratio compares like with like.
while true; do
  rm -f BENCH_DETAIL.partial.json
  st1=$(awk '/^cpu /{print $9}' /proc/stat)
  SPARK_GRAFT_BENCH_ONLY=q_tpch_q9 SPARK_GRAFT_CPUS=4 sbt "runMain graft.Bench" > /dev/null 2>&1
  st2=$(awk '/^cpu /{print $9}' /proc/stat)
  c=$(grep -o '"control_sec":[-0-9.]*' BENCH_DETAIL.partial.json 2>/dev/null | cut -d: -f2)
  r=$(grep -o '"control":[-0-9.]*' BENCH_DETAIL.partial.json 2>/dev/null | cut -d: -f2)
  echo "$(date +%H:%M:%S) control_sec=${c:-none}s control=${r:-none} steal_ticks=$((st2-st1))" >> /tmp/control_log.txt
  sleep 540
done
