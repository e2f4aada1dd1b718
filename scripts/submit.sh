#!/usr/bin/env bash
# Production launch (north rule: "launched via spark-submit on
# multi-executor clusters"). On a real cluster, size with --num-executors N
# (and re-run with 4N). Every main builds its session through graft.Session,
# which keeps the --master and --conf given here and fills only what is
# unset (UTC time zone, UI off, graft SQL extensions). graft.Bench forces
# local[N] and N shuffle partitions on its scaling passes only
# (SPARK_GRAFT_SCALING_LOW/HIGH, default local[4]/local[16]); its corpus
# materialization and per-query pass, and graft.Verify and graft.WireDump,
# run on the master given here.
#
# Usage: scripts/submit.sh <class> [args...]
#   e.g.  scripts/submit.sh graft.Bench
#         scripts/submit.sh graft.Verify /data/turns /out
set -euo pipefail
CLASS="${1:?main class, e.g. graft.Bench}"; shift || true

JAR="target/scala-2.13/documentaispark_2.13-0.1.0.jar"
[ -f "$JAR" ] || sbt -batch package

exec "${SPARK_HOME:-/opt/spark}"/bin/spark-submit \
  --class "$CLASS" \
  --master "${SPARK_MASTER:-local[32]}" \
  --conf spark.sql.shuffle.partitions="${SPARK_SHUFFLE_PARTITIONS:-32}" \
  "$JAR" "$@"
