#!/bin/bash
# Direct-JVM runner for graft mains (bypasses the sbt lock): mirrors
# build.sbt's javaOptions (add-opens, clamped pre-touched heap, code cache).
# Session settings come from graft.Session.local, as in every other run.
# Usage: tools/javarun.sh <main class> [args...]  (after `sbt compile`)
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/.*unmanagedBase := file("\([^"]*\)").*/\1/p' "$ROOT/build.sbt")"
MEM="${SPARK_DRIVER_MEM:-8g}"
case "$MEM" in
  *g) N="${MEM%g}"; [ "$N" -gt 30 ] && MEM=30g ;;
esac
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx$MEM -Xms$MEM -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=1g \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$@"
