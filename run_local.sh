#!/bin/bash
# Local runner for graft mains (Verify/Bench) without sbt overhead.
# src/main/resources goes on the classpath directly: `sbt compile` does NOT
# run copyResources, so after a clean the classes dir can be missing
# META-INF/services (DataSourceRegister) and the graft-docs DSv2 source
# silently disappears (cost q116/q139 a verify round).
CP="/root/repo/target/scala-2.13/classes:/root/repo/src/main/resources:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"; done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"; done
# Heap: SPARK_DRIVER_MEM, else half of the host's memory clamped to 2..24g
# (24g, the old fixed default, is what local[32] on a 128 GiB box needs).
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
# codegen.cache.maxEntries is a STATIC SQL conf — binding it as a system
# property guarantees it applies to the JVM's first session regardless of
# which entry point builds it (round-6 advice item 7).
exec java $ADDOPENS -Xmx$MEM -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Dspark.sql.codegen.cache.maxEntries=5000 -cp "$CP" "$@"
