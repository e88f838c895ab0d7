#!/usr/bin/env bash
# Run a graft main directly on the compiled classes — no sbt, no project
# lock, so long drives (Verify replays, StressGen) can run in the
# background while sbt compiles/tests in the foreground. Compile first
# (`sbt compile`); this script does NOT rebuild.
#
# Usage: run_main.sh <graft.MainClass> [args...]
#   env: JVM_MEM (default 32g), JVM_OPTS (extra flags)
# Session settings are Spark properties passed as -D flags (graft.Session),
# e.g. JVM_OPTS="-Dspark.master=local[8] -Dspark.graft.scan.spreadRowFloor=1"
set -euo pipefail
MAIN="$1"; shift
exec java -Xmx"${JVM_MEM:-32g}" ${JVM_OPTS:-} \
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
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
