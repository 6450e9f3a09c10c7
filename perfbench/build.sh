#!/bin/bash
# Builds the benchmark: compiles graft's main sources together with the
# benchmark's own sources (perfbench/src) with the Scala compiler that
# ships in Spark's jars directory ($SPARK_HOME/jars, or found through
# spark-submit on PATH).
#
# Usage: perfbench/build.sh OUT_DIR
# OUT_DIR receives the classes and a `stamp` file holding a hash of every
# source; a second call with unchanged sources does nothing.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
if [ -z "${SPARK_HOME:-}" ]; then
  submit="$(command -v spark-submit)" || { echo "build.sh: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$SPARK_HOME/jars"
[ -d "$root/src/main/scala/graft" ] || { echo "build.sh: no graft sources under $root/src" >&2; exit 2; }

mapfile -t sources < <(find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${sources[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out/classes"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" "${sources[@]}"
echo "$stamp" > "$out/stamp"
