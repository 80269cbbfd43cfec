#!/bin/bash
# Plain-java runner for graft mains (no sbt lock contention): compiled
# classes + the image's Spark jars, with the JDK17 add-opens Spark needs
# outside spark-submit. Usage: tools/run_graft.sh <mainClass> [args...]
# Env: GRAFT_XMX (default 8g), SPARK_GRAFT_CPUS (default 4).
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="${GRAFT_XMX:-8g}"
# Pre-flight disk guard (the sf10 mutual-kNN lesson: a >70 GB shuffle
# spill filled /tmp and killed the run mid-stage, leaving the spill dirs
# behind). Refuse to launch with less than GRAFT_MIN_FREE_GB free on the
# spill volume; before refusing, reap spill dirs left by killed runs
# (blockmgr-*/spark-* untouched for 2h — a live Spark job touches its
# dirs far more often than that). Set GRAFT_MIN_FREE_GB=0 to bypass.
MIN_FREE_GB="${GRAFT_MIN_FREE_GB:-20}"
SPILL_DIR="${SPARK_LOCAL_DIRS:-/tmp}"
free_gb() { df -BG --output=avail "$SPILL_DIR" 2>/dev/null | tail -1 | tr -dc '0-9'; }
if [ "${MIN_FREE_GB}" -gt 0 ] && [ -n "$(free_gb)" ] \
    && [ "$(free_gb)" -lt "$MIN_FREE_GB" ]; then
  find "$SPILL_DIR" -maxdepth 1 \( -name 'blockmgr-*' -o -name 'spark-*' \) \
    -mmin +120 -exec rm -rf {} + 2>/dev/null || true
  if [ "$(free_gb)" -lt "$MIN_FREE_GB" ]; then
    echo "run_graft.sh: only $(free_gb)G free on $SPILL_DIR" \
      "(< ${MIN_FREE_GB}G floor) — a big-fixture run would die by" \
      "filling the spill volume. Free disk or lower GRAFT_MIN_FREE_GB." >&2
    exit 3
  fi
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx"$XMX" $OPENS \
  -Dspark.ui.enabled=false \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
