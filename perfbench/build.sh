#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and the
# benchmark harness (perfbench/src) into one class directory with the Scala
# compiler that ships among Spark's jars. Run from the repository root:
#   bash perfbench/build.sh <class-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
if [ ! -d src/main/scala ]; then
  echo "build.sh: no src/main/scala here - run from the repository root" >&2
  exit 2
fi
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$jars/*" "@$out.sources"
rm -f "$out.sources"
touch "$out/.complete"
