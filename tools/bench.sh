#!/bin/bash
# Local dev harness: run graft.Bench without sbt startup overhead.
# Usage: tools/bench.sh [sfdir] [query1,query2,...]
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR="${1:-/root/testdata/sf0.1}"
. tools/host_defaults.sh
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Run from a scratch dir: graft.Bench writes bench.json/bench_subset.json
# into CWD, and the tracked /root/repo/bench.json is the canonical
# sf0.1 record that a dev run must never overwrite.
RUNDIR="$(mktemp -d /tmp/graft_bench.XXXXXX)"
cd "$RUNDIR"
echo "bench artifacts under $RUNDIR" >&2
exec java $ADDOPENS -Xmx$SPARK_GRAFT_XMX \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench ${2:+"$2"}
