#!/bin/bash
# Run a graft main class directly against compiled classes + Spark jars
# (bypasses sbt JVM startup). Usage: tools/run.sh graft.Verify <args...>
set -e
CLASS="$1"; shift
# this checkout's classes, with the Spark jars its build compiles against
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
ADDOPENS="$ADDOPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens=java.base/sun.nio.cs=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens=java.base/sun.security.action=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADDOPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  "$CLASS" "$@"
