#!/usr/bin/env bash
# Run a graft main directly on the compiled classes — no sbt, no project
# lock, so long drives (Verify replays, index and firing drives) can run in the
# background while sbt compiles/tests in the foreground. Compile first
# (`sbt compile`); this script does NOT rebuild.
#
# Usage: run_main.sh <graft.MainClass> [args...]
#   env: JVM_MEM (default half the machine's memory, clamped to 2g-8g),
#        JVM_OPTS (extra flags)
# The classes are the ones compiled in this script's own checkout.
# Session settings are Spark properties passed as -D flags (graft.Session),
# e.g. JVM_OPTS="-Dspark.master=local[8] -Dspark.graft.scan.spreadRowFloor=1"
set -euo pipefail
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
MEM="${JVM_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java -Xmx"$MEM" ${JVM_OPTS:-} \
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
  -Dderby.system.home=/tmp/derby \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
