#!/bin/bash
# Direct-JVM Verify + DuckDB oracle compare at a given SF (default sf0.01).
# Usage: tools/run_verify.sh [sfDir] [outDir]
# The JVM's java.io.tmpdir (and so its sidecar scratch root and Spark
# local dirs) is "$OUT.scratch", removed once the compare has finished:
# runs with different outDirs can run side by side.
# GRAFT_VERIFY_HEAP sets the JVM heap (default 8g).
set -e
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_verify_out}"
SCRATCH="$OUT.scratch"
HEAP="${GRAFT_VERIFY_HEAP:-8g}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="${GRAFT_CLASSES:-$REPO/target/scala-2.13/classes}"
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT" "$SCRATCH"
mkdir -p "$SCRATCH"
trap 'rm -rf "$SCRATCH"' EXIT
java $OPENS \
  -Djava.io.tmpdir="$SCRATCH" \
  -Xmx"$HEAP" -Xms"$HEAP" -cp "$CP" graft.Verify "$SF" "$OUT"
python3 "$REPO/tools/compare_oracle.py" "$SF" "$OUT"
