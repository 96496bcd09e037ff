#!/bin/bash
# Run a compiled graft main class directly (no sbt lock): tools/run_graft.sh <mainClass> [args...]
# Mirrors build.sbt's forked-run JVM options (JDK17 add-opens, heap size).
MAIN="$1"; shift
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
