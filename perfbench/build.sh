#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark's own
# Scala sources (perfbench/scala) into perfbench/.build/classes, using the
# Scala compiler that ships among Spark's jars. The repository's build.sbt
# is not involved, so the benchmark builds the same way on any commit.
#
# Usage: bash perfbench/build.sh        (from anywhere)
set -euo pipefail
here=$(cd "$(dirname "$0")" && pwd)
root=$(dirname "$here")
if [ -n "${SPARK_HOME:-}" ]; then
  jars="$SPARK_HOME/jars"
else
  jars="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")/jars"
fi
[ -d "$root/src/main/scala" ] || { echo "build.sh: no program sources at $root/src/main/scala" >&2; exit 2; }
out="$here/.build/classes"
rm -rf "$out"
mkdir -p "$out"
find "$root/src/main/scala" "$here/scala" -name '*.scala' > "$here/.build/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -d "$out" \
  -cp "$jars/*" "@$here/.build/sources.txt"
