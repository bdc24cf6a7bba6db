#!/usr/bin/env bash
# Streaming executor-loss chaos gate (VERDICT r11 item 5) — one command.
# Runs graft.streaming.StreamChaos: the q97 streaming funnel (quality gate
# + watermarked exact dedup -> exactly-once hop -> stateful fMGWS LSH
# rejection) on a local-cluster master while executor JVMs are SIGKILLed
# MID-BATCH inside the stateful stage; asserts >=1 kill actually landed
# (in-process ProcessHandle kill counting — cannot pass vacuously) and
# that the surviving corpus equals the batch CurationPipeline's.
#
# Usage: tools/stream_chaos_test.sh
# Env: SPARK_GRAFT_MASTER to override local-cluster[2,4,2048];
#      SPARK_GRAFT_CHAOS_DOCS to resize the corpus (default 40000).
set -euo pipefail
cd "$(dirname "$0")/.."
JAR="$PWD/target/scala-2.13/graft-app.jar"
jar cf "$JAR" -C target/scala-2.13/classes .

SPARK_HOME=/opt/spark \
SPARK_SCALA_VERSION=2.13 \
SPARK_GRAFT_MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,4,2048]}" \
SPARK_GRAFT_JARS="$JAR" \
SPARK_GRAFT_EXEC_MEM="${SPARK_GRAFT_EXEC_MEM:-1536m}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  tools/bench_java.sh graft.streaming.StreamChaos
