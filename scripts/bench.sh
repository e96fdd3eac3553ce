#!/bin/bash
# Run graft.Bench against compiled classes without sbt (fast start,
# env vars pass straight through). Usage:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
#   SPARK_GRAFT_BENCH_REPS=3 scripts/bench.sh [main-class]
set -e
cd "$(dirname "$0")/.."
MAIN=${1:-graft.Bench}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$MAIN" "${@:2}"
