#!/bin/bash
# Direct-java runner for graft mains (skips sbt startup between measurements).
# Usage: tools/run.sh <MainClass> [args...]   e.g. tools/run.sh graft.Bench ext_rfm
#                                             or  tools/run.sh graft.Probe rung rfm
# Mirrors build.sbt's forked-run javaOptions (JDK17 add-opens, UTC, no UI).
MAIN="$1"; shift
# the repository's compiled classes, found from this script's own location
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars/*" \
  "$MAIN" "$@"
