#!/bin/bash
# Fast dev-loop runner: invokes a graft main on the compiled classes
# without sbt's ~25 s startup. Session settings (UTC, UI off, ...) come
# from graft.GraftSession.builder and the mains, not from JVM flags.
# Compile first (`sbt compile`); then
#   scripts/run_main.sh graft.Bench
#   SPARK_GRAFT_ONLY=q99_pq_codes scripts/run_main.sh graft.Bench
# JVM flags come from the checkout's jvm.flags, the file build.sbt's
# forked JVMs read (the --add-opens list JDK 17 + Spark 4 need outside
# spark-submit, and the collector); -Xmx from SPARK_DRIVER_MEM.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
FLAGS=()
while read -r line; do
  [[ -z "$line" || "$line" == \#* ]] || FLAGS+=("$line")
done < "$ROOT/jvm.flags"
# the classes of the checkout this script sits in
exec java "${FLAGS[@]}" -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
