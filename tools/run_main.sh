#!/usr/bin/env bash
# Run a graft main off the compiled classes WITHOUT sbt (no sbt-lock
# contention with a concurrent `sbt test`; see .claude/skills/verify —
# never overlap two sbt processes on this repo). Mirrors build.sbt's
# forked-JVM options (JDK-17 add-opens, a pinned and pre-touched heap of
# SPARK_DRIVER_MEM or else half of MemTotal within [2g, 24g], 2g code
# cache, UTC). src/main/resources rides the class path so a tree built
# by a plain `sbt compile` (resources not copied to classes/) still finds
# translation_maps/, the DataSourceRegister service file and
# bpe_merges.txt.
#   tools/run_main.sh graft.Bench
#   SPARK_GRAFT_SF_DIR=target/sf10 tools/run_main.sh graft.Bench
#   tools/run_main.sh graft.tools.ScaleData /root/testdata/sf0.1 target/sf10 100
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
  java.nio java.util java.util.concurrent java.util.concurrent.atomic)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
if [[ -z "${SPARK_DRIVER_MEM:-}" ]]; then
  SPARK_DRIVER_MEM=$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
    END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' /proc/meminfo 2>/dev/null || true)
  SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-2g}
fi
exec java "${FLAGS[@]}" \
  "-Xms$SPARK_DRIVER_MEM" "-Xmx$SPARK_DRIVER_MEM" -XX:+AlwaysPreTouch \
  -XX:ReservedCodeCacheSize=2g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" "$@"
