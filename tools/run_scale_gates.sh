#!/bin/bash
# Scale-gate pipeline: rebuild the densified fixtures, then run every
# full-board gate. The legs run one after another on purpose: each wants
# the whole machine, and the heavy DuckDB and Spark legs must never
# share the disk.
#   1. fixtures: sf1 (10x) and sf3 (30x), densified from the sf0.1 dir
#   2. full-board Verify + parallel DuckDB check at sf3 -> SF3_GATE.json
#      (full breadth, no exclusions; q173's oracle gets a long override)
#   3. the same at sf1 -> SF1_GATE.json
#   4. determinism: two independent Verify runs at sf0.01, diffed
#   5. partition invariance: the board at 200 shuffle partitions, diffed
#      against the first determinism run (0 diffs expected)
#   6. memory pressure: the dedup family at sf1 under a 4g heap with a
#      fresh warehouse (graft.tools.ScaleMem), results hash-checked
# Spark legs run through `sbt runMain`, so the heap is build.sbt's
# default or SPARK_DRIVER_MEM.
#
# Usage: tools/run_scale_gates.sh <sf0.1 dir> <sf0.01 dir> [work dir]
# The work dir (default $TMPDIR/graft_scale_gates) receives the
# fixtures, the Verify dumps and one log per leg.
set -x
SRC=${1:?usage: run_scale_gates.sh <sf0.1 dir> <sf0.01 dir> [work dir]}
SF001=${2:?usage: run_scale_gates.sh <sf0.1 dir> <sf0.01 dir> [work dir]}
WORK=${3:-${TMPDIR:-/tmp}/graft_scale_gates}
cd "$(dirname "${BASH_SOURCE[0]}")/.." || exit 1
mkdir -p "$WORK/logs"
LOG=$WORK/logs

rm -rf "$WORK/sf1" "$WORK/sf3"
sbt -batch "runMain graft.tools.ScaleFixture $SRC $WORK/sf3 30" \
  > "$LOG/fixture_sf3.log" 2>&1
sbt -batch "runMain graft.tools.ScaleFixture $SRC $WORK/sf1 10" \
  > "$LOG/fixture_sf1.log" 2>&1

rm -rf "$WORK/v_sf3"
sbt -batch "runMain graft.Verify $WORK/sf3 $WORK/v_sf3" \
  > "$LOG/verify_sf3.log" 2>&1
python3 tools/check_scale_par.py "$WORK/sf3" "$WORK/v_sf3" 3600 SF3_GATE.json 4 \
  q173_cf_neighbors=14400 \
  > "$LOG/gate_sf3.log" 2>&1

rm -rf "$WORK/v_sf1"
sbt -batch "runMain graft.Verify $WORK/sf1 $WORK/v_sf1" \
  > "$LOG/verify_sf1.log" 2>&1
python3 tools/check_scale_par.py "$WORK/sf1" "$WORK/v_sf1" 1800 SF1_GATE.json 4 \
  q173_cf_neighbors=5400 \
  > "$LOG/gate_sf1.log" 2>&1

rm -rf "$WORK/v_det_a" "$WORK/v_det_b" "$WORK/v_p200"
sbt -batch "runMain graft.Verify $SF001 $WORK/v_det_a" \
  > "$LOG/verify_det_a.log" 2>&1
sbt -batch "runMain graft.Verify $SF001 $WORK/v_det_b" \
  > "$LOG/verify_det_b.log" 2>&1
python3 tools/det_compare.py "$WORK/v_det_a" "$WORK/v_det_b" \
  > "$LOG/det_compare.log" 2>&1

SPARK_GRAFT_SHUFFLE_PARTITIONS=200 \
  sbt -batch "runMain graft.Verify $SF001 $WORK/v_p200" \
  > "$LOG/verify_p200.log" 2>&1
python3 tools/det_compare.py "$WORK/v_det_a" "$WORK/v_p200" \
  > "$LOG/p200_compare.log" 2>&1

rm -rf "$WORK/scalemem_sf1"
SPARK_DRIVER_MEM=4g sbt -batch \
  "runMain graft.tools.ScaleMem $WORK/sf1 $WORK/scalemem_sf1" \
  > "$LOG/scalemem.log" 2>&1
python3 tools/check.py "$WORK/sf1" "$WORK/scalemem_sf1" \
  > "$LOG/scalemem_check.log" 2>&1

echo "PIPELINE DONE sf1=$(grep -c OK "$LOG/gate_sf1.log") sf3=$(grep -c OK "$LOG/gate_sf3.log")"
