#!/bin/bash
# Run a graft main without sbt (no build-lock contention): uses the
# classes sbt already compiled (in the checkout this script lives in)
# plus the Spark jars.
# Usage: tools/runmain.sh <main class> [args...]
#   e.g. tools/runmain.sh graft.Bench <sfDir> BENCH_QUERIES.json
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CLS=$1; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-16g} \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$CLS" "$@"
