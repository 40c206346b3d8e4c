#!/usr/bin/env bash
# Build file of the benchmark: compiles the library (src/main/scala) and the
# harness (perfbench/src) with the Scala compiler that ships in the Spark
# distribution's jars directory, into <out>/classes.
#
# Usage: bash perfbench/build.sh <out_dir> <spark_jars_dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="$2"
cp="$(ls "$jars"/*.jar | tr '\n' ':')"
scalac_cp="$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar \
  "$jars"/scala-reflect-2.13*.jar | tr '\n' ':')"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$scalac_cp" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$cp" "@$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
