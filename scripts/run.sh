#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (bypasses sbt startup). Usage: scripts/run.sh graft.Verify <args...>
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_JVM_OPTS: extra JVM flags (e.g. GC tuning for the 16M bench runs)
# -Xms = -Xmx mirrors Spark's real executor launch (a growable heap
# interleaves multi-GB first-touch allocation with expansion pauses:
# BLOCKCODEC_r14.json: 9.6 s vs 0.94 s on a 2.4 GB warm block load).
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xms"${SPARK_DRIVER_MEM:-8g}" -Xmx"${SPARK_DRIVER_MEM:-8g}" ${SPARK_JVM_OPTS:-} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
