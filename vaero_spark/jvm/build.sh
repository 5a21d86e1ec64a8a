#!/bin/sh
# Rebuild vaero.jar, every class under src/vaero/ (the java.nio local
# filesystem and the CEP keyed-state core), against the installed pyspark's
# jars. javac output is deterministic for these sources, so the committed
# jar's classes equal a fresh build's (tests/test_localfs.py checks that).
set -eu
cd "$(dirname "$0")"
jars="$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
out="$(mktemp -d)"
trap 'rm -rf "$out"' EXIT
javac --release 17 -cp "$jars/*" -d "$out" $(find src/vaero -name '*.java' | LC_ALL=C sort)
jar --create --no-manifest --date=2000-01-01T00:00:00Z --file vaero.jar -C "$out" vaero
