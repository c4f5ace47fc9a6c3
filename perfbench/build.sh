#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine's sources (src/main/scala)
# together with the benchmark's own (perfbench/src, perfbench/test) into one class directory,
# with the Scala compiler that ships in Spark's jar directory.
#
# Usage: bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR   (from the repository root)
set -euo pipefail
out="$1"
spark_jars="$2"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 1; }
[ -f "$spark_jars/scala-compiler-2.13.17.jar" ] || { echo "build: no Scala compiler in $spark_jars" >&2; exit 1; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src perfbench/test -name '*.scala' | sort > "$out.tmp.sources"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$spark_jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -release 17 -d "$out.tmp" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
