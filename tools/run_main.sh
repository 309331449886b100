#!/bin/bash
# Direct JVM runner for graft mains (bypasses sbt for long runs).
# Usage: tools/run_main.sh <MainClass> [args...]; env: GRAFT_MEM (default 8g),
# SPARK_HOME (default /opt/spark). Runs the classes sbt compiled into this
# checkout's target/, wherever the checkout is.
MAIN=$1; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${GRAFT_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$MAIN" "$@"
