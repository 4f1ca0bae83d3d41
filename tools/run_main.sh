#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (faster and more isolated than `sbt runMain`: no sbt JVM, fresh heap per
# run — the same way the round driver invokes Bench/Verify).
# Usage: tools/run_main.sh [-Xmx<size>] <mainClass> [args...]
# The heap defaults to SPARK_DRIVER_MEM, else 4g.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
XMX="${SPARK_DRIVER_MEM:-4g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="${1#-Xmx}"; shift; fi
MAIN="$1"; shift
exec java -Xmx"$XMX" -XX:+IgnoreUnrecognizedVMOptions \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --enable-native-access=ALL-UNNAMED \
  -Dderby.system.home=/tmp/derby \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
