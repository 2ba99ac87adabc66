#!/usr/bin/env bash
# sbt-free launcher for graft mains: same JVM flags as build.sbt's
# forked `run` (JDK-17 add-opens, UTC, SPARK_DRIVER_MEM sizing), but no
# sbt project lock — long measurement runs can proceed while compiles or
# tests use sbt. Compile FIRST (sbt compile); this runs whatever is in
# target/scala-2.13/classes of the checkout the script sits in.
# Usage: [SPARK_DRIVER_MEM=64g] tools/runmain.sh <mainClass> [args...]
set -u
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
