#!/bin/bash
# Run a graft main class with the same JVM flags sbt's forked run uses
# (Spark 4 on JDK 17 add-opens + UTC + no UI), without taking the sbt
# target lock. Needs compiled classes (sbt compile) first.
# Usage: tools/run_main.sh <main> [args...], where <main> is one of
#   graft.Bench, graft.Verify, graft.Cli, graft.PhaseProfile,
#   graft.PlanDump, graft.OpsScaleBench, graft.SpillBench,
#   graft.GoldenBench, graft.PlanSweep, graft.EntrySmoke
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
