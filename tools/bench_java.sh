#!/usr/bin/env bash
# Run a graft main (default graft.Bench) WITHOUT sbt — same JVM flags as
# build.sbt's forked run — so long bench passes don't hold the sbt lock
# and compiles/tests can proceed in parallel. Compile first
# (`sbt -batch compile`); this runs whatever is in target/scala-2.13.
#
# Usage: tools/bench_java.sh [mainClass [args...]]
# Env: SPARK_DRIVER_MEM and SPARK_GRAFT_JAVA_OPTS shape this JVM; the
#   session profile every main shares (SPARK_GRAFT_CPUS, _MASTER, _JARS,
#   _EXEC_MEM, _TEXTCACHE_DIR, _CHECKPOINT_DIR) is read by
#   graft.GraftSession.harness; graft.Bench also reads SPARK_GRAFT_SF_DIR,
#   _CALIB, _CALIB_ONLY, _BENCH_REPEATS and _BENCH_FORCE.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="${1:-graft.Bench}"
shift || true
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke
  java.base/java.lang.reflect java.base/java.io
  java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS_FLAGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
# shellcheck disable=SC2086  # SPARK_GRAFT_JAVA_OPTS is space-separated by contract
exec java "${OPENS_FLAGS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
