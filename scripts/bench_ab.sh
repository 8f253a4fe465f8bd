#!/bin/bash
# Alternating-pairs A/B of the benchmark: a base commit against this checkout.
# Usage: scripts/bench_ab.sh <base-commit> <workload> <pairs>
#   <base-commit>  any git revision of this repository (e.g. HEAD~1)
#   <workload>     a workload named in BENCHMARK.json (catalog, models)
#   <pairs>        pair i runs seed i on both sides, base first in odd
#                  pairs and this checkout first in even ones
# Env: SPARK_HOME (required, as for perfbench/run.py); OUT keeps the base
# tree, both builds and every run's output (default: a new temp dir).
# Prints each pair's end-to-end metrics, each side's median and IQR, and
# per metric how many pairs each side won (in the metric's `better`
# direction from BENCHMARK.json; ties count for neither side).
set -u
SELF="$(cd "$(dirname "$0")" && pwd)/$(basename "$0")"
usage() { sed -n '2,12p' "$SELF" >&2; exit 2; }
[ $# -eq 3 ] || usage
BASE="$1" WL="$2" PAIRS="$3"
case "$PAIRS" in ''|*[!0-9]*|0*) echo "bench_ab.sh: <pairs> must be a positive integer" >&2; usage ;; esac
[ -n "${SPARK_HOME:-}" ] || { echo "bench_ab.sh: SPARK_HOME is unset" >&2; usage; }
ROOT="$(cd "$(dirname "$SELF")/.." && pwd)"
cd "$ROOT"
git rev-parse --verify -q "$BASE^{commit}" >/dev/null || {
  echo "bench_ab.sh: unknown commit '$BASE'" >&2; usage; }
python3 -c 'import json, sys
sys.exit(sys.argv[1] not in [w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]])' \
  "$WL" || { echo "bench_ab.sh: unknown workload '$WL'" >&2; usage; }

OUT="${OUT:-$(mktemp -d)}"
rm -rf "$OUT/base"
mkdir -p "$OUT/base"
git archive "$BASE" | tar -x -C "$OUT/base"
echo "bench_ab.sh: base $(git rev-parse --short "$BASE") vs $ROOT, outputs in $OUT" >&2

for i in $(seq 1 "$PAIRS"); do
  order="base change"; [ $((i % 2)) -eq 0 ] && order="change base"
  for side in $order; do
    tree="$ROOT"; [ "$side" = base ] && tree="$OUT/base"
    (cd "$tree" && CARGO_TARGET_DIR="$OUT/build-$side" python3 perfbench/run.py \
      --workload "$WL" --seed "$i" --seconds 12 --trace 0) \
      > "$OUT/$side-$i.out" 2> "$OUT/$side-$i.err" ||
      echo "bench_ab.sh: pair $i $side failed, see $OUT/$side-$i.err" >&2
  done
done

python3 - "$OUT" "$PAIRS" <<'EOF'
import json, statistics, sys
out, pairs = sys.argv[1], int(sys.argv[2])
better = {m["name"]: m["better"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}
names = list(better)
runs = {"base": [], "change": []}
both = []  # (base, change) metrics of each pair where both sides ran
for i in range(1, pairs + 1):
    line, pair = [f"pair {i}"], {}
    for side in runs:
        try:
            rec = json.loads(open(f"{out}/{side}-{i}.out").read().splitlines()[-1])
        except (OSError, IndexError, ValueError):
            line.append(f"{side}: no result")
            continue
        m = {n: rec["metrics"][n]["value"] for n in names}
        runs[side].append(m)
        pair[side] = m
        vals = " ".join(f"{n}={m[n]:.3f}" for n in names)
        line.append(f"{side}: {vals}" + ("" if rec["correct"] else " INCORRECT"))
    if len(pair) == 2:
        both.append((pair["base"], pair["change"]))
    print("  |  ".join(line))
for side, ms in runs.items():
    if not ms:
        print(f"{side}: no runs")
        continue
    stats = []
    for n in names:
        xs = [m[n] for m in ms]
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        stats.append(f"{n}={q[1]:.3f} (IQR {q[2] - q[0]:.3f})")
    print(f"{side} median over {len(ms)} runs: " + " ".join(stats))
# A side wins a pair on a metric when its value is better in the metric's
# direction; ties count for neither side.
wins = []
for n in names:
    gain = [(b[n] - c[n]) * (1 if better[n] == "lower" else -1) for b, c in both]
    wins.append(f"{n} change {sum(g > 0 for g in gain)} base {sum(g < 0 for g in gain)}")
print(f"pair wins over {len(both)} pairs: " + ", ".join(wins))
EOF
