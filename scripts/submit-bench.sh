#!/usr/bin/env bash
# spark-submit launcher for the streaming bench (the north rule's launch
# path). On a real cluster, swap --master for the cluster manager and size
# --num-executors for the N / 4N scaling runs; here local[K] cores stand in
# for executors (no multi-node cluster in this sandbox — see BASELINE.md).
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch package

# Host-derived defaults, each overridable by its env var: the core count
# (exported, so Bench's own SPARK_GRAFT_CPUS read agrees with local[K]) and
# build.sbt's heap rule, the smaller of 24g and half of physical memory.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
half_mem_mb=$(( $(awk '/^MemTotal:/ {print $2}' /proc/meminfo) / 1024 / 2 ))
DRIVER_MEM="${SPARK_DRIVER_MEM:-$(( half_mem_mb < 24576 ? half_mem_mb : 24576 ))m}"
MASTER="${MASTER:-local[${SPARK_GRAFT_CPUS}]}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"

exec /opt/spark/bin/spark-submit \
  --class graft.Bench \
  --master "$MASTER" \
  --driver-memory "$DRIVER_MEM" \
  --conf spark.sql.extensions=graft.plans.GraftExtensions \
  --conf spark.sql.session.timeZone=UTC \
  target/scala-2.13/dataflowkitspark_2.13-0.1.0.jar
