#!/usr/bin/env bash
# Distributed-performance measurement (VERDICT r11 item 1): run the FULL
# 210-query perf ledger (graft.Bench — same warm-up, priming, median-of-3,
# calibration probes) on a local-cluster master at sf0.1 — real executor
# JVMs, real closure serialization, netty shuffle + broadcast transport,
# executor-fetched app jar. Eleven rounds of perf numbers were local[32]
# (in-process exchange, zero serialization); this measures what that mode
# structurally cannot: a plan that leans on in-process shuffle cheapness
# shows up here as a per-query outlier vs a local run
# (tools/bench_compare.py BENCH_LOCAL_sf0.1.json BENCH_CLUSTER_sf0.1.json).
#
# The run writes its ledger line to BENCH_CLUSTER_sf<sf>.json
# (Bench.ledgerFor under a non-local master), never to a local ledger.
#
# Usage: tools/cluster_bench.sh [sfDir]
# Prereq: sbt -batch compile.
# Env: SPARK_GRAFT_MASTER to override local-cluster[2,8,4096];
#      SPARK_GRAFT_BENCH_REPEATS to override the default 3.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.1}"
MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,8,4096]}"

JAR="$PWD/target/scala-2.13/graft-app.jar"
jar cf "$JAR" -C target/scala-2.13/classes .

CKPT=$(mktemp -d /tmp/graft-ckpt-XXXXXX)
TC=$(mktemp -d /tmp/graft-tc-XXXXXX)
trap 'rm -rf "$CKPT" "$TC"' EXIT

echo "[cluster-bench] master=$MASTER sf=$SF"
SPARK_HOME=/opt/spark \
SPARK_SCALA_VERSION=2.13 \
SPARK_GRAFT_MASTER="$MASTER" \
SPARK_GRAFT_JARS="$JAR" \
SPARK_GRAFT_EXEC_MEM="${SPARK_GRAFT_EXEC_MEM:-3g}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
SPARK_GRAFT_CHECKPOINT_DIR="$CKPT" \
SPARK_GRAFT_TEXTCACHE_DIR="$TC" \
SPARK_GRAFT_SF_DIR="$SF" \
  tools/bench_java.sh graft.Bench
