#!/bin/bash
# Run a graft main class against /opt/spark/jars without sbt startup cost.
# Classes come from this checkout's target/ (run `sbt compile` first), so
# two checkouts can be run side by side.
# Usage: tools/run_class.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
