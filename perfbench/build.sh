#!/usr/bin/env bash
# Compiles graft (src/main/scala at the repository root) together with the
# benchmark driver (perfbench/src) into <build dir>/classes.jar, using the Scala
# compiler that ships in Spark's jars. Skips the compile when no source
# changed since the last build.
#   usage: bash perfbench/build.sh <build dir>
set -euo pipefail
here=$(cd "$(dirname "$0")" && pwd)
repo=$(dirname "$here")
out=${1:?usage: build.sh <build dir>}
: "${SPARK_HOME:?SPARK_HOME must point at a Spark 4 install}"
if [ ! -d "$repo/src/main/scala/graft" ]; then
  echo "build.sh: graft sources not found under $repo/src/main/scala" >&2
  exit 2
fi
mkdir -p "$out"
find "$repo/src/main/scala" "$here/src" -name '*.scala' -type f | sort > "$out/sources.txt"
stamp=$(xargs sha1sum < "$out/sources.txt" | sha1sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.jar" "$out/classes.jsa" "$out/stamp"
mkdir -p "$out/classes"
java -XX:-UsePerfData -Xmx2g -Xss8m -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out/classes" @"$out/sources.txt"
# class-data sharing takes classes from jars only
jar --create --file "$out/classes.jar" -C "$out/classes" .
echo "$stamp" > "$out/stamp"
