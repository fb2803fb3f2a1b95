#!/bin/bash
# Direct JVM runner for graft mains — skips sbt startup. Needs a prior
# `sbt compile` and SPARK_HOME pointing at the Spark install.
# usage: tools/run.sh graft.tools.Measure <ab|stages|explain> <sfDir> [args...]
#        tools/run.sh graft.Verify <sfDir> <outDir> [q...]
# Heap: SPARK_DRIVER_MEM, else half the host's memory clamped to 2-8g.
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Xmx$MEM -XX:+UseParallelGC -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*" "$@"
