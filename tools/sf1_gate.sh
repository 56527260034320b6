#!/usr/bin/env bash
# Per-round sf1 scale evidence, scripted (r12 verdict task 8): one
# command regenerates the sf1 fixture if absent, records the FULL
# registry oracle gate at sf1, and archives fresh sf0.1 + sf1 bench
# runs at HEAD so BenchBudgetSpec's scaling tripwires judge
# like-for-like code. Run from the repo root after `sbt compile`:
#
#   bash tools/sf1_gate.sh r13              # suffix used in archive names
#   bash tools/sf1_gate.sh r15 --with-sf10  # also fire the ×100 dial probe
#
# Outputs:
#   tools/bench_archive/bench_detail_<tag>_run1.json   (sf0.1)
#   tools/bench_archive/bench_detail_<tag>_sf1.json    (sf1)
#   tools/bench_archive/oracle_sf1_<tag>.txt           (459-query gate)
#   (--with-sf10: plus tools/sf10_dial_probe.sh's three artifacts —
#    pass it on any round that touches a dial/ladder; the probe is the
#    one gate that exercises every ladder's NEXT rung on real data)
set -euo pipefail
TAG="${1:?usage: tools/sf1_gate.sh <tag> [--with-sf10]}"
WITH_SF10="${2:-}"
source "$(dirname "$0")/host_sizing.sh"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JVM=(java "-Xmx$SPARK_DRIVER_MEM" -XX:+UseG1GC
     --add-exports=java.base/sun.nio.ch=ALL-UNNAMED -cp "$CP")

if [ ! -d testdata_sf1 ]; then
  echo "[sf1_gate] generating testdata_sf1 (x10 key-shifted sf0.1)..."
  "${JVM[@]}" graft.tools.ScaleUp /root/testdata/sf0.1 testdata_sf1 10
fi

echo "[sf1_gate] full-registry Verify at sf1..."
rm -rf /tmp/verify_sf1_gate
"${JVM[@]}" graft.Verify testdata_sf1 /tmp/verify_sf1_gate

echo "[sf1_gate] DuckDB oracle over the sf1 dump..."
python3 tools/oracle_check.py testdata_sf1 /tmp/verify_sf1_gate \
  | tee "tools/bench_archive/oracle_sf1_${TAG}.txt"
grep -q "FAIL" "tools/bench_archive/oracle_sf1_${TAG}.txt" \
  && { echo "[sf1_gate] ORACLE FAILURES AT SF1"; exit 1; }

echo "[sf1_gate] bench at sf0.1..."
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  "${JVM[@]}" graft.Bench
cp bench_detail.json "tools/bench_archive/bench_detail_${TAG}_run1.json"

echo "[sf1_gate] bench at sf1..."
SPARK_GRAFT_SF_DIR=testdata_sf1 "${JVM[@]}" graft.Bench
cp bench_detail.json "tools/bench_archive/bench_detail_${TAG}_sf1.json"

if [ "$WITH_SF10" = "--with-sf10" ]; then
  echo "[sf1_gate] firing the ×100 dial probe (next ladder rungs)..."
  bash tools/sf10_dial_probe.sh "$TAG"
fi

echo "[sf1_gate] scaling tripwires against the fresh archives..."
sbt -batch "testOnly graft.BenchBudgetSpec"
echo "[sf1_gate] done: oracle + both archives written for ${TAG}"
