#!/usr/bin/env bash
# Build-scaling isolation experiment (VERDICT r2 directive #3):
# is the 4->16-core full-build efficiency gap our shuffle design, or the
# host's memory/tmpfs floor? Three measurements on identical 20k-page
# builds (the query-free graft.GraftCli "directbuild" path):
#   A) one JVM, local[4]            -> T4      (baseline throughput/core)
#   B) one JVM, local[16]           -> T16     (in-process scaling)
#   C) four CONCURRENT JVMs, local[4] each, disjoint spark.local.dirs and
#      index dirs                   -> T4x4    (process-isolated scaling:
#      no shared shuffle state, no shared JVM — only the host is shared)
# If (4*nPages/T4x4) / (4 * nPages/T4) is also well below 1, the residual
# is host bandwidth, not the engine's exchange design.
#
# Usage: tools/build_scaling.sh [nPages]   (default 20000)
# Requires: sbt compiled classes (sbt compile) + /opt/spark/jars.
set -euo pipefail
cd "$(dirname "$0")/.."
NPAGES="${1:-20000}"
source tools/jvm_prelude.sh # script already cd'd to the repo root

run_build() { # cores heap localdir ixdir logfile
  local cores="$1" heap="$2" localdir="$3" ixdir="$4" log="$5"
  rm -rf "$ixdir" "$localdir"; mkdir -p "$localdir"
  SPARK_GRAFT_CPUS="$cores" SPARK_LOCAL_DIRS="$localdir" \
  java $ADD_OPENS -XX:ActiveProcessorCount="$cores" \
    -Xms"$heap" -Xmx"$heap" -XX:+AlwaysPreTouch \
    -Dspark.ui.enabled=false -cp "$CP" \
    graft.GraftCli directbuild "$ixdir" "$NPAGES" >"$log" 2>&1
}

# NB: match "in <secs>s" specifically — a bare '[0-9.]*s' also matches the
# zero-digit "s" inside "chunks", yielding a spurious empty first line
extract_secs() { grep -o 'directbuild .* in [0-9.]*s' "$1" | grep -o 'in [0-9.]*s' | sed 's/^in //; s/s$//'; }

BASE=/dev/shm/graft-scalx
rm -rf "$BASE"; mkdir -p "$BASE"

echo "== A: single JVM local[4], warm-up + timed =="
run_build 4 6g "$BASE/l4" "$BASE/ix4" "$BASE/a.log"
T4=$(extract_secs "$BASE/a.log"); echo "T4=${T4}s"

echo "== B: single JVM local[16] =="
run_build 16 12g "$BASE/l16" "$BASE/ix16" "$BASE/b.log"
T16=$(extract_secs "$BASE/b.log"); echo "T16=${T16}s"

echo "== C: four concurrent JVMs local[4] =="
for i in 1 2 3 4; do
  run_build 4 6g "$BASE/c$i" "$BASE/ixc$i" "$BASE/c$i.log" &
done
wait
CMAX=0
for i in 1 2 3 4; do
  S=$(extract_secs "$BASE/c$i.log"); echo "  jvm$i: ${S}s"
  CMAX=$(python3 -c "print(max($CMAX, $S))")
done
echo "T4x4(max timed build)=${CMAX}s"

# Units match on both sides: every number is a child-reported TIMED build
# (JVM startup, Spark init, page generation and the warm-up build are all
# excluded by extract_secs), so the isolated ratio cannot misattribute
# startup overhead to the host.
python3 - "$T4" "$T16" "$CMAX" <<'EOF'
import sys
t4, t16, cmax = (float(x) for x in sys.argv[1:4])
print(f"in-process 4->16 efficiency: {(t4 / t16) / 4:.3f}")
print(f"process-isolated 4x(4-core) efficiency: {t4 / cmax:.3f}")
print("=> below 1.0 in the ISOLATED case = host contention on the timed builds themselves")
EOF
rm -rf "$BASE"
