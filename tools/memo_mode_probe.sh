#!/usr/bin/env bash
# Parquet-vs-checkpoint staging-memo measurement at a given SF
# (r15 stretch follow-through, r16 verdict task 6): N interleaved
# staging-only bench runs per mode — interleaved so slow host drift
# hits both modes equally — printing one line per run. The sf0.1
# verdict was 1.6–2.7× slower for parquet; the question is whether
# bigger indexes (sf1) amortize the encode overhead.
#
#   bash tools/memo_mode_probe.sh testdata_sf1 3
set -euo pipefail
SFDIR="${1:?usage: tools/memo_mode_probe.sh <sf-dir> [rounds]}"
ROUNDS="${2:-3}"
source "$(dirname "$0")/host_sizing.sh"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JVM=(java "-Xmx$SPARK_DRIVER_MEM" -XX:+UseG1GC
     --add-exports=java.base/sun.nio.ch=ALL-UNNAMED -cp "$CP")
for i in $(seq 1 "$ROUNDS"); do
  for MODE in ckpt parquet; do
    FLAG=""
    [ "$MODE" = parquet ] && FLAG=1
    LINE=$(SPARK_GRAFT_SF_DIR="$SFDIR" \
      SPARK_GRAFT_BENCH_ONLY=llm_stage_index \
      SPARK_GRAFT_MEMO_PARQUET="$FLAG" \
      "${JVM[@]}" graft.Bench 2>/dev/null)
    echo "round=$i mode=$MODE $LINE"
  done
done
