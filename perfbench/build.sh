#!/usr/bin/env bash
# Compiles graft (src/main) together with the benchmark harness
# (perfbench/src) with the Scala compiler that ships in Spark's jars.
# Usage, from the repository root: bash perfbench/build.sh <out-dir>
set -euo pipefail
out="$1"
jars="${SPARK_HOME:-/opt/spark}/jars"
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "perfbench: run from the repository root (src/main/scala and perfbench/src needed)" >&2
  exit 2
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "perfbench: no Scala compiler under $jars (set SPARK_HOME)" >&2
  exit 2
fi
rm -rf "$out/classes"
mkdir -p "$out/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out" -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -cp "$jars/*" "@$out/sources.txt"
if [ -d src/main/resources ]; then
  cp -R src/main/resources/. "$out/classes/"
fi
