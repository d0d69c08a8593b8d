#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark's own
# code (perfbench/src) into one class directory, using the Scala compiler
# that ships among Spark's jars. Run from the repository root:
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out=$1
jars=$2
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$jars/*" @"$out.sources"
