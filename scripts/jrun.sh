#!/bin/bash
# Run a graft main class in a forked JVM without sbt (so sbt stays free
# for concurrent compiles). Usage:
#   scripts/jrun.sh [-cp EXTRA_CLASSPATH_DIR] MAINCLASS [args...]
# Classpath: snapshot dir (or target dirs) + /opt/spark/jars/* + scalatest.
set -euo pipefail
CLS="/root/repo/target/scala-2.13/classes:/root/repo/target/scala-2.13/test-classes"
if [ "${1:-}" = "-cp" ]; then CLS="$2"; shift 2; fi
ST=$(find /root/.cache/coursier -name 'scala*_2.13-*.jar' 2>/dev/null | tr '\n' ':')
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
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
  -cp "$CLS:/opt/spark/jars/*:$ST" "$@"
