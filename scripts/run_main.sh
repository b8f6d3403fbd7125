#!/bin/bash
# Run one of graft's two mains, graft.Verify or graft.Bench, directly with
# java (fast iteration; skips sbt JVM startup).
# Usage: scripts/run_main.sh graft.Verify|graft.Bench <args...>
# Extra JVM options come from $GRAFT_JAVA_OPTS, e.g.
#   GRAFT_JAVA_OPTS=-Dspark.graft.ivf.residentMaxBytes=0
# runs every IVF search on its parquet scan instead of the resident tier.
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
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
  $GRAFT_JAVA_OPTS \
  -cp "$CP" "$@"
