#!/bin/bash
# Dev helper: run a graft main on the compiled classpath without sbt
# (avoids the sbt project lock so tests and mains can overlap).
# Usage: tools/run_main.sh graft.cli.PlanAudit <sfDir> <query> [query...]
set -euo pipefail
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dfile.encoding=UTF-8 -Dsun.jnu.encoding=UTF-8 \
  -Dstdout.encoding=UTF-8 -Dstderr.encoding=UTF-8 \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
