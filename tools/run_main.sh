#!/usr/bin/env bash
# Run a graft main class with the SAME JVM shape `sbt runMain` forks
# (build.sbt javaOptions: add-opens set, ParallelGC, 8g heap), but without
# holding sbt's build lock — so compiles and benches never queue behind
# each other during an optimization session. Classes are COPIED to a
# snapshot dir first so a concurrent `sbt compile` cannot rewrite class
# files under a running measurement.
#
# Usage: tools/run_main.sh graft.Bench [args...]
set -eu
cd "$(dirname "$0")/.."
main="$1"; shift
# GRAFT_CLASSES overrides the class dir (e.g. a pinned baseline snapshot
# for before/after A-B runs); default snapshots the current build.
if [ -n "${GRAFT_CLASSES:-}" ]; then
  snap="$GRAFT_CLASSES"
else
  snap=$(mktemp -d /tmp/graft_classes.XXXXXX)
  cp -r target/scala-2.13/classes/* "$snap"/
  trap 'rm -rf "$snap"' EXIT
fi
# java runs as a child (not exec'd) so the EXIT trap removes the snapshot.
java \
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
  -XX:+UseParallelGC -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$snap:/opt/spark/jars/*" "$main" "$@"
