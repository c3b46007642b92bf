#!/bin/bash
# Run a graft main class directly against the Spark jars ($SPARK_HOME, or
# the installation `spark-submit` belongs to) and this checkout's compiled
# classes and resources (fast iteration, no sbt startup; the
# DataSourceRegister entry lives in src/main/resources).
# Usage: ./run_spark.sh graft.Verify <args...>
ROOT="$(cd "$(dirname "$0")" && pwd)"
SPARK_JARS="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}/jars"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$SPARK_JARS/*" "$@"
