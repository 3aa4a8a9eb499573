#!/bin/bash
# Run a graft main directly against compiled classes (no sbt lock/startup).
# Usage: scripts/run_main.sh <mainClass> [args...]
# Mirrors build.sbt's forked-run JVM options and locale: under the POSIX
# locale a JVM cannot name a file whose path holds non-ASCII text.
export LC_ALL="${LC_ALL:-C.UTF-8}"
CLASSES=/root/repo/target/scala-2.13/classes
JARS=/opt/spark/jars/*
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" ${SPARK_EXTRA_JAVA_OPTS:-} \
  -cp "$CLASSES:$JARS" "$@"
