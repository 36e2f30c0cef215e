#!/usr/bin/env bash
# Builds the engine (src/main) and the benchmark harness (perfbench/src)
# from source into one class directory, with the Scala compiler that
# ships in Spark's jar directory. Run from the repository root:
#   bash perfbench/build.sh <out-dir> <spark-jar-dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
[ -f "$jars/scala-compiler-2.13.17.jar" ] || { echo "build.sh: no Scala 2.13.17 compiler in $jars" >&2; exit 2; }
rm -rf "$out"; mkdir -p "$out"
list="$(mktemp "${out%/}.srcs.XXXXXX")"
trap 'rm -f "$list"' EXIT
find src/main/scala perfbench/src -name '*.scala' | sort > "$list"
java -Xss8m -Xmx2g \
  -cp "$jars/scala-compiler-2.13.17.jar:$jars/scala-library-2.13.17.jar:$jars/scala-reflect-2.13.17.jar" \
  scala.tools.nsc.Main -nowarn -usejavacp:false -classpath "$jars/*" -d "$out" "@$list"
cp -R src/main/resources/. "$out/"
