#!/bin/bash
# Same-session-DAY interleaved binary A/B: alternate OLD/NEW classes
# running graft.Bench on a query subset, N rounds, and leave per-leg
# JSON records in $OUTDIR. Decision rule: compare per-query min across
# legs of the same binary (Bench itself takes min-of-2 per leg).
# Usage: OLD=<baseline classes dir> [NEW=target/scala-2.13/classes] \
#   ROUNDS=3 OUTDIR=/tmp/ab SF=/root/testdata/sf0.1 scripts/interleave_ab.sh q_a q_b ...
# OLD is required: build the baseline with
# `scripts/build_classes.sh <commit> <dir>` and pass <dir>/classes.
# CPUS defaults to nproc.
set -u
usage() { sed -n '2,10p' "$0" >&2; exit 2; }
OLD="${OLD:-}"
if [ -z "$OLD" ] || [ ! -d "$OLD" ]; then
  echo "interleave_ab.sh: OLD must name an existing classes directory" >&2
  usage
fi
NEW="${NEW:-target/scala-2.13/classes}"
ROUNDS="${ROUNDS:-3}"
OUTDIR="${OUTDIR:-/tmp/ab}"
SF="${SF:-/root/testdata/sf0.1}"
CPUS="${CPUS:-$(nproc)}"
mkdir -p "$OUTDIR"
for r in $(seq 1 "$ROUNDS"); do
  for leg in old new; do
    cls="$NEW"; [ "$leg" = old ] && cls="$OLD"
    echo "== round $r leg $leg =="
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
      SPARK_GRAFT_BENCH_OUT="$OUTDIR/${leg}_r${r}.json" \
      SPARK_GRAFT_BENCH_REF=/dev/null \
      CLASSES="$cls" scripts/runjava.sh graft.Bench "$@" \
      > "$OUTDIR/${leg}_r${r}.log" 2>&1
    tail -c 300 "$OUTDIR/${leg}_r${r}.log"; echo
  done
done
