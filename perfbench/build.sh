#!/usr/bin/env bash
# Builds the benchmark: compiles graft's main sources (src/main/scala) and
# the harness (perfbench/harness) with the Scala compiler that ships in the
# Spark distribution, into perfbench/.out/classes/{graft,harness}.
#
#   bash perfbench/build.sh
#
# SPARK_HOME names the Spark distribution; its jars are graft's whole
# classpath, as in build.sbt.
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark distribution}/jars"
out="$here/.out/classes"

if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "build.sh: no graft sources under $root/src/main/scala" >&2
  exit 2
fi

scalac() { java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"; }

rm -rf "$out.tmp"
mkdir -p "$out.tmp/graft" "$out.tmp/harness"
find "$root/src/main/scala" -name '*.scala' > "$out.tmp/sources.txt"
scalac -d "$out.tmp/graft" -classpath "$jars/*" "@$out.tmp/sources.txt"
scalac -d "$out.tmp/harness" -classpath "$jars/*:$out.tmp/graft" "$here"/harness/*.scala
rm -rf "$out"
mv "$out.tmp" "$out"
