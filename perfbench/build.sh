#!/usr/bin/env bash
# Builds the program (src/main/scala) together with the benchmark
# (perfbench/src) into .bench_build/classes, with the Scala compiler that
# ships among Spark's jars; Spark's jars are the whole classpath, as in the
# repository's own build. Skips the compile when no source changed.
set -euo pipefail
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [ -z "${SPARK_HOME:-}" ]; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
out="$root/.bench_build"
cd "$root"
sources=$(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $sources | sha1sum | cut -d' ' -f1)
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
  -usejavacp -classpath "$out/classes" -nowarn -d "$out/classes" $sources >&2
echo "$stamp" > "$out/classes.stamp"
