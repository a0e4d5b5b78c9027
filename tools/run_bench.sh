#!/bin/bash
# Direct-JVM bench runner: same flags sbt's forked `runMain graft.Bench`
# uses (build.sbt), but without the sbt launcher so measurement runs can
# overlap an sbt compile session. Usage:
#   SPARK_GRAFT_ONLY=q1,q2 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_REPEAT=3 \
#     tools/run_bench.sh
CLASSES="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}"
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MEM="${SPARK_DRIVER_MEM:-8g}"
exec java $OPENS \
  -Xmx$MEM -Xms$MEM -cp "$CP" graft.Bench "$@"
