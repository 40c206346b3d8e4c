#!/bin/bash
# Direct-JVM launcher for graft.Bench (bypasses sbt — same flags as
# build.sbt's javaOptions). FOREGROUND ONLY: background/tmux execution is
# CPU-throttled 5-27x in this container (BASELINE.md r3 note) and produces
# dishonest numbers. Usage: run_bench.sh
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
# (default 32), SPARK_GRAFT_ONLY (dev subset), SPARK_DRIVER_MEM.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
CP="$root/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench "$@"
