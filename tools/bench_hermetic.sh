#!/bin/bash
# Hermetic gate-bench recording (round-16 verdict #2): run graft.Bench
# from a FRESH scratch working directory — empty spark-warehouse,
# metastore_db, derby.log — so the recorded artifact cannot absorb
# session state accumulated in the repo's long-lived working dir. The
# r16 artifact read two queries at ~2x their code-true cost from exactly
# that contamination (judge A/B: fresh checkouts showed no code
# regression; re-running the same jar inside /root/repo reproduced the
# inflation). The bucketed-fact/ivfpq catalog tables are rebuilt from
# scratch inside the scratch dir: rep 1 pays the ingest (as a fresh
# deployment would), reps 2+ measure steady state, and the median of 3
# absorbs the cold rep exactly as the bench contract documents.
#
# Usage: tools/bench_hermetic.sh <out.json> [sfDir]
#   env: SPARK_GRAFT_CPUS (default: every host core, graft.LocalSpark),
#   SPARK_GRAFT_BENCH_REPS (default 3), SPARK_DRIVER_MEM (default: half
#   of MemTotal clamped to 2–8g, as tools/run_probe.sh)
set -eu
REPO_ROOT="$(cd "$(dirname "$0")/.." && pwd)"
if [ $# -lt 1 ]; then
  echo "usage: $0 <out.json> [sfDir]" >&2
  exit 2
fi
OUT_DIR="$(cd "$(dirname "$1")" && pwd)"
OUT="$OUT_DIR/$(basename "$1")"
SF="${2:-/root/testdata/sf0.1}"
CLASSES="$REPO_ROOT/target/scala-2.13/classes"
if [ ! -d "$CLASSES" ]; then
  echo "error: $CLASSES missing — run 'sbt compile' first" >&2
  exit 2
fi
WORK="$(mktemp -d /tmp/graft-bench-XXXXXX)"
trap 'rm -rf "$WORK"' EXIT
cd "$WORK"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP_DEFAULT="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
SPARK_GRAFT_SF_DIR="$SF" \
SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-3}" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
java $ADD_OPENS \
  -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$HEAP_DEFAULT}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Bench
echo "hermetic bench written to $OUT (scratch dir $WORK removed)" >&2
