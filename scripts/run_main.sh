#!/bin/bash
# Direct-JVM runner for graft mains (bypasses sbt startup/locks; identical
# classpath: compiled classes + the image's Spark jars). Usage:
#   scripts/run_main.sh graft.Bench [args...]
# Env passthrough: SPARK_GRAFT_* vars work exactly as under sbt.
# Heap: SPARK_DRIVER_MEM, else the smaller of 16g and half the box's memory.
set -e
if [ -z "$SPARK_DRIVER_MEM" ]; then
  half_g=$(awk '/^MemTotal:/ {print int($2 / 2097152)}' /proc/meminfo 2>/dev/null || true)
  SPARK_DRIVER_MEM="$(( half_g >= 1 && half_g < 16 ? half_g : 16 ))g"
fi
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS $EXTRA_JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$SPARK_DRIVER_MEM" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
