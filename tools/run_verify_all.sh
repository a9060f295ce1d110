#!/bin/bash
# Full Verify + selfcheck at all three SFs -> $OUT_PREFIX_*
# Layout-independent: repo root is derived from this script's path;
# the Spark jars / testdata / output locations come from env vars
# (defaults match the build image). SPARK_GRAFT_CPUS defaults to the
# core count and VERIFY_MEM (the JVM heap) to half the machine's
# memory, at least 2g, as the tier-1 test command sizes its driver.
set -e
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_JARS="${SPARK_JARS:-/opt/spark/jars}"
TESTDATA="${TESTDATA:-/root/testdata}"
OUT_PREFIX="${OUT_PREFIX:-/tmp/verify_all}"
CP="$REPO/target/scala-2.13/classes:$(ls "$SPARK_JARS"/*.jar | tr '\n' ':')"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
for sf in 0.001 0.01 0.1; do
  out=${OUT_PREFIX}_$sf
  rm -rf "$out"
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)} java $OPENS \
    -Xmx${VERIFY_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' </proc/meminfo)} \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.Verify "$TESTDATA/sf$sf" "$out" \
    > ${OUT_PREFIX}_verify_$sf.log 2>&1
  python3 "$REPO/tools/selfcheck.py" "$TESTDATA/sf$sf" "$out" \
    > ${OUT_PREFIX}_check_$sf.log 2>&1 || true
  echo "=== sf$sf done: $(grep -c PASS ${OUT_PREFIX}_check_$sf.log) PASS, $(grep -c FAIL ${OUT_PREFIX}_check_$sf.log) FAIL"
done
# oracle-pass budget guard at the driver's SF (r11/r12 empty-artifact
# class: an over-budget DuckDB pass silently zeroes the round's
# correctness signal — keep it loud and checked)
python3 "$REPO/tools/oracle_budget.py" "$TESTDATA/sf0.01" ${OUT_PREFIX}_0.01 90 \
  || echo "=== ORACLE BUDGET EXCEEDED at sf0.01 — fix before round close"
