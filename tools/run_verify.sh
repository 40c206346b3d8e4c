#!/bin/bash
# Direct-JVM launcher for graft.Verify (bypasses sbt — same flags as
# build.sbt's javaOptions). Usage: run_verify.sh <sfDir> <outDir>
# Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY, SPARK_DRIVER_MEM honored.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
CP="$root/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$@"
