#!/bin/bash
# Alternating-pairs A/B of a cold CLI run: a base commit against this checkout.
# Usage: scripts/cli_ab.sh <base-commit> <project> <pairs> [run args...]
#   <base-commit>  any git revision of this repository (e.g. HEAD~1)
#   <project>      a model project directory (e.g. examples/demo_project)
#   <pairs>        pair i times one `graft.Cli <project> run` JVM per side,
#                  base first in odd pairs and the checkout first in even ones
#   [run args]     passed to `run` (e.g. --var min_price=10)
# Both sides are compiled with scripts/build_classes.sh; the checkout side is
# HEAD plus the uncommitted changes to tracked files (`git stash create`),
# so `git add` a new source file first. Each run gets a fresh copy of the
# project with no warehouse, so every run is a full, cold one. A run is
# timed from JVM start to exit.
# Env: SPARK_GRAFT_SF_DIR (the `raw` tables, as for graft.Cli),
# SPARK_DRIVER_MEM (default 2g), OUT keeps both builds, the project copies
# and every run's output (default: a new temp dir).
# Prints each pair's seconds, then each side's median and IQR.
set -u
SELF="$(cd "$(dirname "$0")" && pwd)/$(basename "$0")"
usage() { sed -n '2,17p' "$SELF" >&2; exit 2; }
[ $# -ge 3 ] || usage
BASE="$1" PROJ="$(cd "$2" 2>/dev/null && pwd)" PAIRS="$3"
shift 3
[ -n "$PROJ" ] || { echo "cli_ab.sh: no project directory '$2'" >&2; usage; }
case "$PAIRS" in ''|*[!0-9]*|0*) echo "cli_ab.sh: <pairs> must be a positive integer" >&2; usage ;; esac
ROOT="$(cd "$(dirname "$SELF")/.." && pwd)"
cd "$ROOT"
git rev-parse --verify -q "$BASE^{commit}" >/dev/null || {
  echo "cli_ab.sh: unknown commit '$BASE'" >&2; usage; }
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-2g}"

OUT="${OUT:-$(mktemp -d)}"
CHANGE="$(git stash create)"
CHANGE="${CHANGE:-HEAD}"
echo "cli_ab.sh: base $(git rev-parse --short "$BASE") vs $ROOT, outputs in $OUT" >&2
scripts/build_classes.sh "$BASE" "$OUT/base" >/dev/null || exit 1
scripts/build_classes.sh "$CHANGE" "$OUT/change" >/dev/null || exit 1

: > "$OUT/times.tsv"
for i in $(seq 1 "$PAIRS"); do
  order="base change"; [ $((i % 2)) -eq 0 ] && order="change base"
  for side in $order; do
    proj="$OUT/proj-$side-$i"
    rm -rf "$proj"
    cp -r "$PROJ" "$proj"
    rm -rf "$proj/warehouse"
    t0=$(date +%s.%N)
    CLASSES="$OUT/$side/classes" scripts/runjava.sh graft.Cli "$proj" run "$@" \
      > "$OUT/$side-$i.out" 2> "$OUT/$side-$i.err"
    rc=$?
    t1=$(date +%s.%N)
    [ $rc -eq 0 ] || echo "cli_ab.sh: pair $i $side exited $rc, see $OUT/$side-$i.err" >&2
    printf '%s\t%s\t%s\t%s\n' "$i" "$side" "$rc" "$(awk -v a="$t0" -v b="$t1" 'BEGIN { printf "%.3f", b - a }')" >> "$OUT/times.tsv"
  done
done

python3 - "$OUT/times.tsv" <<'EOF'
import statistics, sys
runs = {"base": {}, "change": {}}
for line in open(sys.argv[1]):
    i, side, rc, secs = line.split()
    runs[side][int(i)] = float(secs) if rc == "0" else None
for i in sorted(runs["base"]):
    cells = [f"{s}: " + ("failed" if runs[s].get(i) is None else f"{runs[s][i]:.2f} s")
             for s in runs]
    print(f"pair {i}  " + "  |  ".join(cells))
for side, r in runs.items():
    xs = [v for v in r.values() if v is not None]
    if not xs:
        print(f"{side}: no successful run")
        continue
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    print(f"{side} median over {len(xs)} runs: {q[1]:.2f} s (IQR {q[2] - q[0]:.2f})")
EOF
