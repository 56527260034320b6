#!/usr/bin/env bash
# r14 verdict task 2: fire the corpus-size dials' NEXT integer steps
# on real data. Every near-dup blocker's dial (signBandBits, cellBits,
# simhashBandBits, the phash fine-bit ladder, the edit-distance vocab
# band) was measured through sf1, where several steps past the sf1
# corpus had never engaged; this probe generates a ×100 key-shifted
# copy of sf0.1 (sf10 — NOT ×10 of testdata_sf1, whose replica key
# ranges would collide under ScaleUp's fixed per-replica offsets),
# then runs ONLY the dial family through Verify + the DuckDB oracle at
# sf10 and times the family at sf1 and sf10 with the same Bench
# machinery as the full runs (SPARK_GRAFT_BENCH_ONLY), so the archived
# mass/wall ratios are like-for-like. Run from the repo root after
# `sbt compile`:
#
#   bash tools/sf10_dial_probe.sh r14
#
# Outputs:
#   tools/bench_archive/oracle_sf10dial_<tag>.txt   (family oracle gate)
#   tools/bench_archive/bench_detail_<tag>_sf1dial.json
#   tools/bench_archive/bench_detail_<tag>_sf10dial.json
set -euo pipefail
TAG="${1:?usage: tools/sf10_dial_probe.sh <tag>}"
source "$(dirname "$0")/host_sizing.sh"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JVM=(java "-Xmx$SPARK_DRIVER_MEM" -XX:+UseG1GC
     --add-exports=java.base/sun.nio.ch=ALL-UNNAMED -cp "$CP")
# llm_stage_index rides along in the timed runs (it runs first, as in
# the full bench) so any staged memo a family member touches is warm
# and the staging cost carries its own name instead of polluting a
# family number.
FAMILY="llm_embed_neardup,llm_semdedup,llm_simhash_neardup"
FAMILY="$FAMILY,llm_edit_distance,mm_phash_neardup,join_interval"

if [ ! -d testdata_sf1 ]; then
  echo "[sf10_probe] generating testdata_sf1 (x10 key-shifted sf0.1)..."
  "${JVM[@]}" graft.tools.ScaleUp /root/testdata/sf0.1 testdata_sf1 10
fi
if [ ! -d testdata_sf10 ]; then
  echo "[sf10_probe] generating testdata_sf10 (x100 key-shifted sf0.1)..."
  "${JVM[@]}" graft.tools.ScaleUp /root/testdata/sf0.1 testdata_sf10 100
fi

echo "[sf10_probe] dial-family Verify at sf10..."
rm -rf /tmp/verify_sf10_dial
"${JVM[@]}" graft.Verify testdata_sf10 \
  /tmp/verify_sf10_dial "$FAMILY"

echo "[sf10_probe] DuckDB oracle over the sf10 dial dump..."
python3 tools/oracle_check.py testdata_sf10 /tmp/verify_sf10_dial \
  "$FAMILY" | tee "tools/bench_archive/oracle_sf10dial_${TAG}.txt"
grep -q "FAIL" "tools/bench_archive/oracle_sf10dial_${TAG}.txt" \
  && { echo "[sf10_probe] ORACLE FAILURES AT SF10"; exit 1; }

echo "[sf10_probe] timed family at sf1..."
SPARK_GRAFT_SF_DIR=testdata_sf1 \
  SPARK_GRAFT_BENCH_ONLY="$FAMILY,llm_stage_index" "${JVM[@]}" graft.Bench
cp bench_detail.json "tools/bench_archive/bench_detail_${TAG}_sf1dial.json"

echo "[sf10_probe] timed family at sf10..."
SPARK_GRAFT_SF_DIR=testdata_sf10 \
  SPARK_GRAFT_BENCH_ONLY="$FAMILY,llm_stage_index" "${JVM[@]}" graft.Bench
cp bench_detail.json "tools/bench_archive/bench_detail_${TAG}_sf10dial.json"

echo "[sf10_probe] done: oracle + both dial archives written for ${TAG}"
