#!/bin/bash
# Run a graft main class against the ALREADY-COMPILED classes (no sbt,
# no recompile) — lets long audit/bench chains run in the background
# while sources are being edited. Mirrors build.sbt's forked-run JVM
# options (JDK17 add-opens, heap, code cache, stack) plus UTF-8 stdout,
# so the tools' banners do not print as '?' under a POSIX locale;
# session settings belong to graft.Harness.
# Usage: tools/runmain.sh <mainClass> [args...]
set -euo pipefail
MAIN="$1"; shift
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util \
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
  java.base/sun.nio.ch java.base/sun.nio.cs \
  java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  "-Xmx${SPARK_DRIVER_MEM:-24g}" \
  -XX:ReservedCodeCacheSize=1g \
  -Xss4m \
  -Dfile.encoding=UTF-8 -Dstdout.encoding=UTF-8 \
  -cp "$CP" "$MAIN" "$@"
