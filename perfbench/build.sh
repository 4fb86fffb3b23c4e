#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) together
# with the harness (perfbench/harness) using the Scala compiler that ships in
# Spark's jars directory, so no dependency resolution is needed.
#   usage: perfbench/build.sh OUT_DIR     (run from the repository root)
# Writes OUT_DIR/perfbench.jar; run it with $SPARK_HOME/jars/* on the
# classpath. (A jar, not a class directory, so the JVM can archive its
# classes for class-data sharing.)
set -euo pipefail
out="$1"
jars="${SPARK_HOME:?set SPARK_HOME to a Spark 4.1 installation}/jars"
test -d src/main/scala/graft || { echo "build.sh: no src/main/scala/graft here" >&2; exit 2; }
rm -rf "$out/classes"
mkdir -p "$out/classes"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" @"$out/sources.txt"
jar cf "$out/perfbench.jar" -C "$out/classes" .
