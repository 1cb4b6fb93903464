#!/bin/bash
# Run a graft main class directly against the compiled classes — no sbt
# lock contention with a concurrent `sbt test`. Usage:
#   tools/run_main.sh graft.ScaleFixture /root/testdata/sf0.1 /tmp/x 10
set -euo pipefail
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
