#!/usr/bin/env bash
# Build file of the benchmark package: compiles graft's main sources and the
# benchmark's own Scala sources with the Scala compiler that ships in the
# Spark distribution, against the Spark jars. No sbt, no network. The jars
# directory is build.sbt's `unmanagedBase` unless SPARK_JARS is set.
#
# Usage: perfbench/build.sh            (run from the repository root)
# Prints the runtime classpath on stdout. Classes are cached under
# ${CARGO_TARGET_DIR:-.bench_build}/classes-<hash of the sources>, so an
# unchanged tree is not rebuilt.
set -euo pipefail

SPARK_JARS="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)}"
[ -d "$SPARK_JARS" ] || { echo "build.sh: no Spark jars directory" >&2; exit 2; }
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -d perfbench/src ] || { echo "build.sh: no perfbench/src here" >&2; exit 2; }

sources=$(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
hash=$(cat $sources | sha1sum | cut -c1-16)
out="${CARGO_TARGET_DIR:-.bench_build}/classes-$hash"
if [ ! -f "$out/.done" ]; then
  rm -rf "$out.tmp"
  mkdir -p "$out.tmp"
  java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
    -usejavacp -nowarn -d "$out.tmp" $sources >&2
  if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out.tmp/"; fi
  touch "$out.tmp/.done"
  rm -rf "$out"
  mv "$out.tmp" "$out"
fi
echo "$(cd "$out" && pwd):$SPARK_JARS/*"
