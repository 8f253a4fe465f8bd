#!/bin/bash
# Compile one commit's src/main/scala into a classes directory, offline,
# with the Scala compiler that ships in Spark's jars directory — the
# baseline leg for scripts/interleave_ab.sh or scripts/runjava.sh.
# Usage: scripts/build_classes.sh <commit> <outdir>
#   <commit>  any git revision of this repository (e.g. HEAD~1, 74aa184)
#   <outdir>  classes land in <outdir>/classes (recreated)
# Env: SPARK_HOME (default /opt/spark). About 25 s on 4 cores.
set -eu
SELF="$(cd "$(dirname "$0")" && pwd)/$(basename "$0")"
usage() { sed -n '5,8p' "$SELF" >&2; exit 2; }
[ $# -eq 2 ] || usage
COMMIT="$1"
OUT="$(mkdir -p "$2" && cd "$2" && pwd)"
cd "$(dirname "$SELF")/.."
git rev-parse --verify -q "$COMMIT^{commit}" >/dev/null || {
  echo "build_classes.sh: unknown commit '$COMMIT'" >&2; usage; }
JARS="${SPARK_HOME:-/opt/spark}/jars"
ls "$JARS"/scala-compiler-*.jar >/dev/null 2>&1 || {
  echo "build_classes.sh: no Scala compiler under $JARS" >&2; exit 2; }
CP="$(echo "$JARS"/*.jar | tr ' ' ':')"
rm -rf "$OUT/src" "$OUT/classes"
mkdir -p "$OUT/src" "$OUT/classes"
git archive "$COMMIT" src/main/scala | tar -x -C "$OUT/src"
find "$OUT/src" -name '*.scala' > "$OUT/sources.txt"
java -Xss8m -Xmx2g -cp "$CP" scala.tools.nsc.Main -nowarn \
  -d "$OUT/classes" -cp "$CP" @"$OUT/sources.txt"
echo "$OUT/classes"
