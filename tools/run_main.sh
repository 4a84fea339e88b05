#!/bin/bash
# Launch a graft main class directly on the compiled classes + Spark
# jars, skipping sbt's ~50 s startup. Compile first (`sbt compile`);
# the classpath file is regenerated when absent:
#   sbt "export Runtime/fullClasspath" | grep "^/root/repo/target" > /tmp/graft_cp.txt
# Usage: tools/run_main.sh <MainClass> [args...]
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM.
set -e
CP_FILE=${GRAFT_CP_FILE:-/tmp/graft_cp.txt}
if [ ! -s "$CP_FILE" ]; then
  (cd /root/repo && sbt "export Runtime/fullClasspath" 2>/dev/null \
    | grep "^/root/repo/target" > "$CP_FILE")
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
exec java $ADD_OPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$(cat "$CP_FILE")" "$MAIN" "$@"
