#!/bin/bash
# Process spawns of one benchmark run, counted by command.
# Usage: scripts/spawns.sh <workload> [seed]
#   <workload>  a workload named in BENCHMARK.json (catalog, models)
#   [seed]      the run's seed (default 1)
# Env: SPARK_HOME (required, as for perfbench/run.py); OUT keeps the build,
# the run's output and one JFR recording per JVM (default: a new temp dir).
# Runs `perfbench/run.py --seconds 12 --trace 0` once, with JFR in every JVM
# it starts, and prints the jdk.ProcessStart events: the count in each
# recording, then the total per program (the command's first word).
set -u
SELF="$(cd "$(dirname "$0")" && pwd)/$(basename "$0")"
usage() { sed -n '2,10p' "$SELF" >&2; exit 2; }
[ $# -ge 1 ] && [ $# -le 2 ] || usage
WL="$1" SEED="${2:-1}"
case "$SEED" in ''|*[!0-9]*) echo "spawns.sh: [seed] must be an integer" >&2; usage ;; esac
[ -n "${SPARK_HOME:-}" ] || { echo "spawns.sh: SPARK_HOME is unset" >&2; usage; }
cd "$(dirname "$SELF")/.."
python3 -c 'import json, sys
sys.exit(sys.argv[1] not in [w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]])' \
  "$WL" || { echo "spawns.sh: unknown workload '$WL'" >&2; usage; }

OUT="${OUT:-$(mktemp -d)}"
rm -rf "$OUT/jfr"
mkdir -p "$OUT/jfr"
export CARGO_TARGET_DIR="$OUT/build" PYTHONDONTWRITEBYTECODE=1
echo "spawns.sh: outputs in $OUT" >&2

# Build before JFR is on: JAVA_TOOL_OPTIONS reaches the compiler's JVM too.
python3 -c 'import os, sys
sys.path.insert(0, "perfbench")
import run
run.build(os.getcwd(), os.environ["CARGO_TARGET_DIR"])' || exit 1

# A directory as `filename` gives each JVM its own recording: JDK 17 does
# not expand %p there, so one file name would be overwritten by each JVM.
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording:filename=$OUT/jfr,settings=default -Xlog:jfr+startup=warning" \
  python3 perfbench/run.py --workload "$WL" --seed "$SEED" --seconds 12 --trace 0 \
  > "$OUT/run.out" 2> "$OUT/run.err" ||
  { echo "spawns.sh: the run failed, see $OUT/run.err" >&2; exit 1; }
echo "run: $(tail -n 1 "$OUT/run.out" | cut -c 1-80)"

python3 - "$OUT/jfr" <<'EOF'
import collections, glob, json, os, subprocess, sys
total = collections.Counter()
for f in sorted(glob.glob(f"{sys.argv[1]}/*.jfr")):
    r = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", f],
                       capture_output=True, text=True, check=True)
    cmds = [e["values"]["command"] for e in json.loads(r.stdout)["recording"]["events"]]
    print(f"{os.path.basename(f)}: {len(cmds)} spawns")
    total.update(os.path.basename(c.split()[0]) if c.strip() else "?" for c in cmds)
for prog, n in total.most_common():
    print(f"{n:7d} {prog}")
print(f"{sum(total.values()):7d} total")
EOF
