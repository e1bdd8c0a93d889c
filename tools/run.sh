#!/bin/bash
# Direct JVM runner for graft mains: java -cp against the sbt-compiled
# classes + the unmanaged Spark jars. Skips sbt's ~20s startup and its
# project-level lock, so long data-generation and bench runs can proceed
# without serializing behind each other's sbt servers.
# Usage: tools/run.sh <mainClass> [args...]   (env vars pass through)
set -e
cd /root/repo
# GRAFT_CP overrides the class dir: long gate runs point it at an
# rsync'd snapshot so a concurrent sbt compile can't swap class files
# under a running JVM's lazy classloading.
CP="${GRAFT_CP:-target/scala-2.13/classes}:/opt/spark/jars/*"
# Heap and UI setting as build.sbt's forked runs: SPARK_DRIVER_MEM sizes
# the heap.
exec java -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:+UseG1GC \
  -Dspark.ui.enabled=false \
  --add-exports=java.base/sun.nio.ch=ALL-UNNAMED \
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
  -cp "$CP" "$@"
