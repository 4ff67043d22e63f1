#!/bin/bash
# Direct-JVM launcher for graft mains (bypasses sbt so probes can run
# while sbt is busy): replicates build.sbt's forked-run JVM options —
# JDK17 add-opens, 24g heap (the local[32] JVM IS the executor), UTC,
# UI off. Usage: tools/run_graft.sh <mainClass> [args...]
set -u
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
