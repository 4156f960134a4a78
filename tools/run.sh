#!/bin/bash
# Run a graft main class against the sbt-compiled classes + Spark jars
# without going through sbt (keeps sbt's lock free). The heap is
# SPARK_DRIVER_MEM, defaulting to build.sbt's 8g.
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vfy
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh graft.Bench
#   SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.tools.Profile \
#     q11_events_json lifecycle:q139
repo="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
exec java -XX:+IgnoreUnrecognizedVMOptions \
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
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
