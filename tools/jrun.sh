#!/bin/bash
# Run a graft main class directly (no sbt) with the same JVM posture
# as build.sbt's forked run — lets correctness/plan runs proceed while
# sbt holds the project (e.g. a full `sbt test` in flight).
# Usage: tools/jrun.sh [-Xmx...] graft.Verify args...
set -e
CP="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${JRUN_HEAP:-32g}"
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx$HEAP -XX:ReservedCodeCacheSize=1g -XX:+UseParallelGC -cp "$CP" "$@"
