#!/bin/bash
# Dev tool: run graft.Bench (or another main, $RUN_MAIN) directly with
# java — no sbt launch/lock — so best-of-N idle-window bench launches
# don't serialize behind interactive sbt sessions. Mirrors build.sbt's
# fork options (JDK17 add-opens, 32g heap); graft.GraftSession sets the
# session itself (UTC, no UI).
set -u
MAIN="${RUN_MAIN:-graft.Bench}"
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')/root/.sbt/1.0/java9-rt-ext-debian_17_0_20/rt.jar"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  -cp "$CP" "$MAIN" "$@"
