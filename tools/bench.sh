#!/usr/bin/env bash
# Fork-free bench launcher: runs graft.Bench under plain `java -cp`
# instead of sbt, for two measured reasons (NOTES_BUILDER.md, r16):
#
#   1. sbt's own ~30 s boot pushes the box's 1-minute load average
#      past Bench's degraded threshold BEFORE main() samples it —
#      an idle box (load 0.11) reads loadEntry 2.08 through sbt vs
#      0.004 through java -cp, so sbt-launched benches self-inflict
#      `degraded: true`.
#   2. sbt frames every forked-process stream (stdout `[info]`,
#      stderr `[error]`), which has kept the driver's BENCH_rN.json
#      "parsed" field null for four rounds.
#
# Channel discipline: the benched program's own stdout (Spark logs
# included) is redirected to stderr, and the stat JSON written to
# target/bench_stat.json is emitted as this script's ONLY stdout line
# — so a caller that reads the first stdout line, the last stdout
# line, or the whole of stdout gets the same single JSON object.
#
# Usage:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/bench.sh
# Optional env (same as Bench itself): SPARK_GRAFT_CPUS,
# SPARK_DRIVER_MEM, SPARK_GRAFT_BENCH_STAT, SPARK_GRAFT_BENCH_FULL.
# Extra args are passed through to graft.Bench.
set -euo pipefail
cd "$(dirname "$0")/.."

: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to a testdata sf dir}"

CLASSES=target/scala-2.13/classes
STAMP=target/.bench_compile_stamp
# compile only when a source is newer than the last compile THIS SCRIPT
# saw (a stamp file, not the classes dir — directory mtimes only track
# direct children, so the dir reads permanently stale and every launch
# would pay sbt's boot + the 60 s settle). The whole point is NOT to
# put sbt's boot load in front of Bench's /proc/loadavg sample.
# project/ (sbt plugins/build helpers) is part of the build definition
# too (ADVICE r17); prune sbt's own project/target so the probe keys
# on sources, not on artifacts sbt touches every launch
if [ ! -d "$CLASSES" ] || [ ! -f "$STAMP" ] ||
   [ -n "$(find src/main build.sbt project \
             \( -path project/target -o -path project/project \) -prune \
             -o -newer "$STAMP" -print -quit 2>/dev/null)" ]; then
  echo "[bench.sh] classes stale — compiling via sbt, then settling 60s" >&2
  sbt -batch compile 1>&2
  touch "$STAMP"
  sleep 60 # let sbt's boot load drain out of the 1-minute average
fi

# Mirrors build.sbt's jdk17AddOpens (Spark 4.x on JDK 17 outside
# spark-submit) — keep the two lists in sync.
ADD_OPENS=()
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS+=("--add-opens" "$p=ALL-UNNAMED")
done

STAT="${SPARK_GRAFT_BENCH_STAT:-target/bench_stat.json}"
rm -f "$STAT"

# program stdout (Spark logs, Bench's own println) → stderr; the stat
# file is the one channel log framing can never touch
java "${ADD_OPENS[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Bench "$@" 1>&2

if [ ! -s "$STAT" ]; then
  echo "[bench.sh] Bench exited without writing $STAT" >&2
  exit 1
fi
cat "$STAT"
