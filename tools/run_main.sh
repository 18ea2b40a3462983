#!/usr/bin/env bash
# Launch a graft main against the sbt-compiled classes WITHOUT sbt — the
# long-running sweeps (Verify at sf1, Bench draws)
# otherwise serialize behind sbt's project lock. Compile first:
#   sbt compile
# then:
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# Env: SPARK_DRIVER_MEM (default 8g), plus whatever the main reads
# (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_CKPT_DIR, ...).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first: $CLASSES missing" >&2; exit 1; }
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS_FLAGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${OPENS_FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
