#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and
# the benchmark driver (loadbench/src) into <out>/classes with the Scala
# compiler that ships in Spark's jars (no sbt, no downloads).
# Usage, from the repository root: bash loadbench/build.sh <out-dir>
set -euo pipefail
out=$1
jars=${SPARK_HOME:-/opt/spark}/jars
cp=$(ls "$jars"/*.jar | tr '\n' ':')
scalac=$(ls "$jars"/scala-compiler-*.jar "$jars"/scala-library-*.jar "$jars"/scala-reflect-*.jar | tr '\n' ':')
rm -rf "$out/classes"
mkdir -p "$out/classes"
find src/main/scala loadbench/src -name '*.scala' | sort > "$out/sources.txt"
mkdir -p "$out/tmp"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out/tmp" -cp "$scalac" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$cp" @"$out/sources.txt"
