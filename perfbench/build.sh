#!/usr/bin/env bash
# Compiles the engine (src/main/scala) together with the benchmark
# harness (perfbench/src) with the Scala compiler that ships in Spark's
# jars directory, into <out>/classes. Run from the repository root:
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
cp="$(ls "$jars"/*.jar | tr '\n' ':')"
find src/main/scala perfbench/src -name '*.scala' > "$out/sources.txt"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$cp" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
