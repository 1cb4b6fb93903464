#!/bin/bash
# Run a graft main class directly against the compiled classes — no sbt
# lock contention with a concurrent `sbt test`. Usage:
#   tools/run_main.sh graft.ScaleFixture <sf dir> <out dir> 10
# The classes are those of the checkout this script sits in, so a second
# checkout (say, of a parent commit for an A/B) runs its own build.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
# the Spark jars the build compiles against (build.sbt's unmanagedBase)
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")"
CP="$REPO/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
