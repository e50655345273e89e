#!/bin/bash
# Run graft.Sweep (or another main) in a direct JVM — no sbt lock, same
# flags as build.sbt javaOptions. Usage:
#   SPARK_GRAFT_CPUS=... tools/bench_direct.sh [main [args...]]
#   e.g. tools/bench_direct.sh graft.Sweep <sfDir> sweep.jsonl
set -u
MAIN="${1:-graft.Sweep}"
shift || true
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$CP" "$MAIN" "$@"
