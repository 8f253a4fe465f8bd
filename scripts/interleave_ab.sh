#!/bin/bash
# Same-session-DAY interleaved binary A/B: alternate OLD/NEW classes
# running graft.Bench on a query subset, N rounds, and leave per-leg
# JSON records in $OUTDIR. Decision rule: compare per-query min across
# legs of the same binary (Bench itself takes min-of-2 per leg); the
# script ends by printing, per query, the OLD min, the NEW min and
# NEW/OLD, then the family totals of those minima and each leg's own
# total (the spread a NEW total must clear before it reads as a change).
# Usage: OLD=<baseline classes dir> [NEW=target/scala-2.13/classes] \
#   ROUNDS=3 OUTDIR=/tmp/ab SF=/root/testdata/sf0.1 scripts/interleave_ab.sh q_a q_b ...
# OLD is required: build the baseline with
# `scripts/build_classes.sh <commit> <dir>` and pass <dir>/classes.
# CPUS defaults to nproc.
set -u
usage() { sed -n '2,13p' "$0" >&2; exit 2; }
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
python3 - "$OUTDIR" <<'PY'
import glob, json, sys
out = sys.argv[1]
runs, legs = {}, {}
for leg in ("old", "new"):
    runs[leg] = []
    for f in sorted(glob.glob(f"{out}/{leg}_r*.json")):
        try:
            qv = json.load(open(f)).get("queries", {})
        except (OSError, ValueError):
            continue
        runs[leg].append({q: v for q, v in qv.items()
                          if isinstance(v, (int, float))})
    legs[leg] = {q: min(r[q] for r in runs[leg] if q in r)
                 for q in set().union(set(), *runs[leg])}
qs = sorted(set(legs["old"]) & set(legs["new"]))
print(f"{'query':<28} {'old_min_s':>10} {'new_min_s':>10} {'new/old':>8}")
for q in qs:
    o, n = legs["old"][q], legs["new"][q]
    print(f"{q:<28} {o:>10.3f} {n:>10.3f} {n / o if o else float('nan'):>8.3f}")
to, tn = sum(legs["old"][q] for q in qs), sum(legs["new"][q] for q in qs)
print(f"{'TOTAL':<28} {to:>10.3f} {tn:>10.3f} {tn / to if to else float('nan'):>8.3f}")
for leg in ("old", "new"):
    tots = [sum(r[q] for q in qs) for r in runs[leg] if all(q in r for q in qs)]
    print(f"{leg} leg totals: " + " ".join(f"{t:.3f}" for t in tots))
PY
