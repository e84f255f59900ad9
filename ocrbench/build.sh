#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala at the
# repository root) together with the benchmark sources (ocrbench/src) into
# ocrbench/target/classes, using the Scala compiler that ships in Spark's
# jars directory ($SPARK_HOME, else the installation spark-submit runs from),
# and records that directory in ocrbench/target/jars_dir for run.py. A stamp
# of every source skips the compile when nothing changed.
# Usage: bash ocrbench/build.sh
set -euo pipefail
here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(cd "$(dirname "$(command -v spark-submit)")/.." && pwd)"
fi
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
out="$here/target"

if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no engine sources at $root/src/main/scala" >&2
  exit 2
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build.sh: no Scala compiler in $jars (set SPARK_HOME)" >&2
  exit 2
fi

mapfile -t sources < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$( { echo "$jars"; sha256sum "${BASH_SOURCE[0]}" "${sources[@]}" | sed "s|$root/||"; } | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -d "$out/classes" ] &&
   [ -f "$out/jars_dir" ]; then
  exit 0
fi

rm -rf "$out/classes" "$out/classes.tmp" "$out/stamp" "$out/jars_dir"
mkdir -p "$out/classes.tmp"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" "${sources[@]}"
mv "$out/classes.tmp" "$out/classes"
echo "$jars" > "$out/jars_dir"
echo "$stamp" > "$out/stamp"
