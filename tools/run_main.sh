#!/bin/bash
# Launch a graft main class directly on the compiled classes + Spark
# jars, skipping sbt's ~50 s startup. Runs the checkout this script sits
# in. Compile first (`sbt compile`); the classpath file, one per
# checkout, is regenerated when absent:
#   sbt "export Runtime/fullClasspath" | grep "^$ROOT/target" > $CP_FILE
# Usage: tools/run_main.sh <MainClass> [args...]
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM;
# GRAFT_CP_FILE overrides the classpath file.
set -e
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
CP_FILE=${GRAFT_CP_FILE:-/tmp/graft_cp_$(printf %s "$ROOT" | md5sum | cut -c1-12).txt}
if [ ! -s "$CP_FILE" ]; then
  (cd "$ROOT" && sbt "export Runtime/fullClasspath" 2>/dev/null \
    | grep "^$ROOT/target" > "$CP_FILE")
fi
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# UTF-8 stdout/stderr whatever the locale (JDK 17 reads the sun.* names,
# JDK 18+ the plain ones), so non-ASCII in a tool's lines survives
exec java $ADD_OPENS \
  -Dsun.stdout.encoding=UTF-8 -Dsun.stderr.encoding=UTF-8 \
  -Dstdout.encoding=UTF-8 -Dstderr.encoding=UTF-8 \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$(cat "$CP_FILE")" "$MAIN" "$@"
