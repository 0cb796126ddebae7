#!/bin/bash
# Run a graft main class against the compiled classes (plus src/main/resources,
# which `sbt compile` does not copy) without sbt startup.
# Usage: scripts/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
cd "$(dirname "$0")/.."
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" "$@"
