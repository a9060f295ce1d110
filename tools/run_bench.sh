#!/bin/bash
# Direct-java bench runner (no sbt JVM overhead). Mirrors the driver
# contract: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS env vars, same main.
#   tools/run_bench.sh                 -> full suite at sf0.1
#   SPARK_GRAFT_BENCH_FILTER=q99_setsim_join tools/run_bench.sh
# SPARK_GRAFT_CPUS defaults to the core count and BENCH_MEM (the JVM
# heap) to half the machine's memory, at least 2g and at most 48g.
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_JARS="${SPARK_JARS:-/opt/spark/jars}"
CP="$REPO/target/scala-2.13/classes:$(ls "$SPARK_JARS"/*.jar | tr '\n' ':')"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
java $OPENS -Xmx${BENCH_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 48 ? 48 : g) "g"}' </proc/meminfo)} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "${BENCH_MAIN:-graft.Bench}" "$@"
