#!/bin/bash
# Run a graft main with the same JVM shape as `sbt run` (see build.sbt),
# without taking the sbt project lock. Usage: tools/run_main.sh graft.Verify args...
set -e
# Classes of the checkout this script sits in; Spark jars from the
# build's own unmanagedBase.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CP="$ROOT/target/scala-2.13/classes:$JARS/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "$CP" "$@"
