#!/bin/bash
# Fast dev-loop runner: invokes a graft main on the compiled classes
# without sbt's ~25 s startup. Compile first (`sbt compile`); then
#   scripts/run_main.sh graft.Bench
#   SPARK_GRAFT_ONLY=q99_pq_codes scripts/run_main.sh graft.Bench
# The --add-opens list mirrors build.sbt (JDK 17 + Spark 4 outside
# spark-submit); omitting java.base/java.nio kills every Kryo-serialized
# Aggregator buffer with EXPRESSION_ENCODING_FAILED (round-9 lesson).
set -euo pipefail
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# ParallelGC: the collector build.sbt's forked test JVM and perfbench use
exec java $ADD_OPENS -XX:+UseParallelGC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
