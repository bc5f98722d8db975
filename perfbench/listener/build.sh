#!/usr/bin/env bash
# Compile the traced run's query-execution listener against the Spark jars
# the driver JVM loads ($SPARK_HOME/jars, else the pyspark package's jars).
# Usage: bash perfbench/listener/build.sh OUT_DIR
set -euo pipefail
here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
out="$1"
jars="${SPARK_HOME:+$SPARK_HOME/jars}"
if [ -z "$jars" ] || [ ! -d "$jars" ]; then
  jars="$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
fi
mkdir -p "$out"
javac -nowarn -cp "$jars/*" -d "$out" "$here/QeSink.java"
