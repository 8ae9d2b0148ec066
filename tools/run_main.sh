#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt startup):
#   tools/run_main.sh graft.CalibProbe [args...]
# Mirrors build.sbt's fork options (JDK17 add-opens, UTC, UI off).
# Compile first with `sbt -batch compile`. Dev tool only.
set -u
# classes dir derives from this script's own location (the quiet_pin_loop
# convention) — a hardcoded /root/repo would silently run stale classes
# from a different checkout
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# heap: SPARK_DRIVER_MEM, else half the host's memory clamped to 2-8g
# (build.sbt's default)
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" -cp "$CP" "$@"
