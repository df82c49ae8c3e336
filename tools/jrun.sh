#!/bin/bash
# Dev loop: run any graft main on the compiled classes without sbt
# (no build lock, no sbt JVM). Usage: tools/jrun.sh graft.tools.RunOne q18_canal_parse /root/testdata/sf0.1 5
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Dspark.ui.enabled=false -Xmx8g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
