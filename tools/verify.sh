#!/bin/bash
# Local dev harness: run graft.Verify without sbt startup overhead.
# Usage: tools/verify.sh [sfdir] [outdir] [query1,query2,...]
set -e
cd "$(dirname "$0")/.."
SFDIR="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_out}"
. tools/host_defaults.sh
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
exec java $ADDOPENS -Xmx$SPARK_GRAFT_XMX \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SFDIR" "$OUT" ${3:+"$3"}
