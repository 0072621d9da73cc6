#!/bin/bash
# Direct JVM runner for graft main classes (Bench/Verify/Explain) — same
# classpath and JVM flags sbt's forked `runMain` uses, minus sbt startup.
# Usage: scripts/run.sh graft.Bench [args...]
# src/main/resources rides along: `sbt compile` does not copy it into the
# class dir, and the DSv2 readers (zarr, netcdf) register through it.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="${GRAFT_CLASSES:-$REPO/target/scala-2.13/classes}:$REPO/src/main/resources:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
