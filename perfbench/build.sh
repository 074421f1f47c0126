#!/usr/bin/env bash
# Builds the benchmark: graft's sources (src/main/scala) together with
# the benchmark's own (perfbench/scala), compiled by the Scala compiler
# that ships in Spark's jars, into .bench_build/classes. The compile is
# skipped when the sources are byte-identical to the last build's.
#   bash perfbench/build.sh
set -euo pipefail
cd "$(dirname "$0")/.."
jars="${SPARK_HOME:?SPARK_HOME must name a Spark 4.x install}/jars"
out=.bench_build/classes
stamp=.bench_build/classes.sha256
[ -d src/main/scala/graft ] || { echo "build.sh: graft sources (src/main/scala) missing" >&2; exit 2; }
srcs=$(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
sum=$( (echo "$srcs"; cat $srcs) | sha256sum | cut -d' ' -f1)
if [ -d "$out" ] && [ "$(cat "$stamp" 2>/dev/null)" = "$sum" ]; then
  exit 0
fi
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out.tmp" -classpath "$jars/*" $srcs
rm -rf "$out" && mv "$out.tmp" "$out"
echo "$sum" > "$stamp"
