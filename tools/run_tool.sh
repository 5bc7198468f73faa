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
# Honors SPARK_DRIVER_MEM (default 8g, as build.sbt) and SPARK_GRAFT_CPUS.
set -euo pipefail
MAIN=${1:?usage: tools/run_tool.sh <mainClass> [args...]}
shift
CLASSES=/root/repo/target/scala-2.13/classes
# Staleness guard (r17 advisory): measuring after editing sources without
# recompiling silently measures OLD code. Warn (don't fail — the
# no-compile-during-measurement discipline makes mid-sweep edits legal).
NEWEST_CLASS=$(find "$CLASSES" -name '*.class' -printf '%T@\n' 2>/dev/null | sort -n | tail -1)
STALE=$(find /root/repo/src/main/scala -name '*.scala' -newermt "@${NEWEST_CLASS:-0}" 2>/dev/null | head -3)
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
