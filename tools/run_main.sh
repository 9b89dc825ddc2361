#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock):
#   tools/run_main.sh graft.tools.GenScale /tmp/graft_sf1 10
#   SPARK_GRAFT_SF_DIR=<sf dir> tools/run_main.sh graft.Bench p_pagerank,q_rm_mixed 2
# Mirrors build.sbt's forked-JVM options (add-opens, code cache, UTC).
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_* pass through.
set -euo pipefail
CLASSES=/root/repo/target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
