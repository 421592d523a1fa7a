#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and
# the benchmark (perfbench/scala, perfbench/test) in one scalac run, with
# the Scala compiler and classpath of the Spark distribution, into
# .bench_build/classes. Skips the compile when no source changed.
#
# Usage: bash perfbench/build.sh
set -euo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars=$spark_home/jars
out=$root/.bench_build/classes
[ -d "$root/src/main/scala" ] || { echo "build.sh: no src/main/scala under $root" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar | head -1)
library=$(ls "$jars"/scala-library-2.13.*.jar | head -1)
reflect=$(ls "$jars"/scala-reflect-2.13.*.jar | head -1)
cd "$root"
mapfile -t sources < <(find src/main/scala perfbench/scala perfbench/test -name '*.scala' | LC_ALL=C sort)
stamp=$(cat "${sources[@]}" | sha256sum | cut -c1-64)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then exit 0; fi
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
java -Xmx2g -Xss8m -cp "$compiler:$library:$reflect" scala.tools.nsc.Main \
  -nowarn -classpath "$jars/*" -d "$out.tmp" "${sources[@]}"
echo "$stamp" > "$out.tmp/.stamp"
rm -rf "$out" && mv "$out.tmp" "$out"
