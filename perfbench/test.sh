#!/usr/bin/env bash
# Unit checks of the benchmark's envelope generator and reference check.
# Usage: bash perfbench/test.sh
set -euo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
bash "$root/perfbench/build.sh"
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
work=$(mktemp -d "$root/.bench_build/test.XXXXXX")
trap 'rm -rf "$work"' EXIT
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
cd "$work"
java "${opens[@]}" -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$work" \
  -Dlog4j2.configurationFile="$root/perfbench/log4j2.properties" \
  -cp "$root/.bench_build/classes:$spark_home/jars/*" perfbench.GeneratorTest
