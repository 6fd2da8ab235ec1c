#!/bin/bash
# Fast dev-loop runner: invokes a graft main on the compiled classes
# without sbt's ~25 s startup. Session settings (UTC, UI off, ...) come
# from graft.GraftSession.builder and the mains, not from JVM flags.
# Compile first (`sbt compile`); then
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
# the classes of the checkout this script sits in
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
# ParallelGC: the collector build.sbt's forked test JVM and perfbench use
exec java $ADD_OPENS -XX:+UseParallelGC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
