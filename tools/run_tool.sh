#!/usr/bin/env bash
# Launch a graft main class in a FRESH JVM without going through sbt —
# the per-measurement-JVM discipline (r16: one sweep arm OOM'd after ~16k
# accumulated stages; r17 runs every scale/law point in its own process)
# gets expensive when each point pays sbt startup, and a second sbt
# invocation contends with the interactive shell's server lock. This
# replays build.sbt's forked-run JVM flags verbatim against the compiled
# classes dir + the unmanaged Spark jars.
#
# Usage: tools/run_tool.sh <mainClass> [args...]
#   e.g. tools/run_tool.sh graft.tools.ProfileJobs llm_ann_ivf /tmp/graft_scale/x100
# Runs the classes of the checkout this script sits in (compile it first).
# Honors SPARK_DRIVER_MEM (default 8g, as build.sbt) and SPARK_GRAFT_CPUS.
set -euo pipefail
MAIN=${1:?usage: tools/run_tool.sh <mainClass> [args...]}
shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CLASSES=$ROOT/target/scala-2.13/classes
SRC=$ROOT/src/main/scala
for d in "$CLASSES" "$SRC"; do
  if [ ! -d "$d" ]; then
    echo "[run_tool] missing $d (run \`sbt compile\` in $ROOT first)" >&2
    exit 2
  fi
done
# Staleness guard (r17 advisory): measuring after editing sources without
# recompiling silently measures OLD code. Warn (don't fail — the
# no-compile-during-measurement discipline makes mid-sweep edits legal).
# `|| true`: head closing the pipe early must not end the script.
NEWEST_CLASS=$(find "$CLASSES" -name '*.class' -printf '%T@\n' | sort -n | tail -1)
STALE=$(find "$SRC" -name '*.scala' -newermt "@${NEWEST_CLASS:-0}" | head -3 || true)
if [ -n "$STALE" ]; then
  echo "[run_tool] WARNING: sources newer than compiled classes — this JVM runs OLD code:" >&2
  echo "$STALE" | sed 's/^/[run_tool]   /' >&2
fi
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
