#!/bin/bash
# Same-window A/B of two revisions on one perfbench workload.
#
#   scripts/perfbench_ab.sh [--compiles] [--seconds S] <rev-a> <rev-b|WT> <workload> <pairs> <first-seed>
#
# Each revision is extracted with `git archive` into its own directory under
# ${TMPDIR:-/tmp}/perfbench_ab/ (WT runs the working tree in place) and built
# there once by perfbench/run.py. Pair k runs both sides on seed first-seed+k
# with `python3 perfbench/run.py --workload <workload> --seed <seed>
# --seconds S` (default 6), a first on even pairs and b first on odd ones, so
# host drift and order effects fall on both sides alike. Every run is
# appended to BENCH/perfbench_ab.jsonl; at the end the script prints, per
# end-to-end metric of BENCHMARK.json, each pair's values, both medians and
# interquartile ranges, and the pairs b wins.
#
# --compiles passes scripts/codegen-log4j2.properties through
# JAVA_TOOL_OPTIONS, so Spark logs each generated class it compiles, and
# records the classes compiled during set-up and during each measured
# operation. Nothing under perfbench/ is changed.
set -euo pipefail
cd "$(dirname "$0")/.."
ROOT=$PWD
COMPILES=0
SECONDS_PER_RUN=6
while [ $# -gt 0 ]; do
  case "$1" in
    --compiles) COMPILES=1; shift ;;
    --seconds) SECONDS_PER_RUN=$2; shift 2 ;;
    *) break ;;
  esac
done
if [ $# -ne 5 ]; then
  sed -n '2,4p' "$0" >&2
  exit 2
fi
REV_A=$1 REV_B=$2 WORKLOAD=$3 PAIRS=$4 FIRST_SEED=$5
SCRATCH=${TMPDIR:-/tmp}/perfbench_ab
OUT=$ROOT/BENCH/perfbench_ab.jsonl
LOGS=$SCRATCH/logs
mkdir -p "$SCRATCH" "$LOGS" "$ROOT/BENCH"

# checkout <rev>: the directory a revision runs in, extracted and built once
checkout() {
  if [ "$1" = "WT" ]; then echo "$ROOT"; return; fi
  local sha dir
  sha=$(git rev-parse --verify "$1^{commit}")
  dir=$SCRATCH/${sha:0:12}
  if [ ! -f "$dir/perfbench/run.py" ]; then
    mkdir -p "$dir"
    git archive "$sha" | tar -x -C "$dir"
  fi
  echo "$dir"
}

DIR_A=$(checkout "$REV_A")
DIR_B=$(checkout "$REV_B")
for d in "$DIR_A" "$DIR_B"; do
  echo "building $d" >&2
  (cd "$d" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()')
done

# run <side> <rev> <dir> <pair> <seed> <order>: one benchmark run, appended to $OUT
run() {
  local side=$1 rev=$2 dir=$3 pair=$4 seed=$5 order=$6 log result opts=""
  log=$LOGS/$WORKLOAD-$pair-$side.log
  [ "$COMPILES" = 1 ] && opts="-Dlog4j2.configurationFile=$ROOT/scripts/codegen-log4j2.properties"
  echo "pair $pair seed $seed side $side ($rev), load $(cut -d' ' -f1 /proc/loadavg)" >&2
  result=$(cd "$dir" && JAVA_TOOL_OPTIONS="$opts" python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$seed" --seconds "$SECONDS_PER_RUN" 2>"$log" | tail -n 1) || true
  [ -n "$result" ] || result='{"correct": false, "error": "no result line"}'
  python3 - "$log" "$side" "$rev" "$pair" "$seed" "$order" "$WORKLOAD" "$SECONDS_PER_RUN" "$COMPILES" \
    "$result" >>"$OUT" <<'PY'
import json, sys
log, side, rev, pair, seed, order, workload, seconds, compiles, result = sys.argv[1:]
row = {"workload": workload, "pair": int(pair), "seed": int(seed), "side": side, "rev": rev,
       "order": int(order), "seconds": float(seconds), "result": json.loads(result)}
if compiles == "1":
    # compiles before the set-up line belong to set-up, then to the operation
    # whose "operation <i>" line closes them
    setup, ops, n, in_setup = 0, [], 0, True
    for line in open(log, errors="replace"):
        if "Code generated in" in line:
            n += 1
        elif "[perfbench] set-up passes" in line and in_setup:
            setup, n, in_setup = n, 0, False
        elif line.startswith("[perfbench] operation ") and " s" in line and not in_setup:
            ops.append(n); n = 0
    row["compiles"] = {"setup": setup, "per_op": ops}
print(json.dumps(row))
PY
}

START=$(date -u +%Y-%m-%dT%H:%M:%SZ)
for ((k = 0; k < PAIRS; k++)); do
  seed=$((FIRST_SEED + k))
  if ((k % 2 == 0)); then
    run a "$REV_A" "$DIR_A" "$k" "$seed" 0; run b "$REV_B" "$DIR_B" "$k" "$seed" 1
  else
    run b "$REV_B" "$DIR_B" "$k" "$seed" 0; run a "$REV_A" "$DIR_A" "$k" "$seed" 1
  fi
done

python3 - "$OUT" "$START" "$WORKLOAD" "$REV_A" "$REV_B" "$PAIRS" <<'PY'
import json, statistics, sys
out, start, workload, rev_a, rev_b, n = sys.argv[1:]
bench = json.load(open("BENCHMARK.json"))
# this invocation's runs are the last 2 * pairs lines of its workload
runs = [r for r in map(json.loads, filter(str.strip, open(out))) if r["workload"] == workload][-2 * int(n):]
pairs = {}
for r in runs:
    pairs.setdefault(r["pair"], {})[r["side"]] = r

def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"),) * 2
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]

print(f"{workload}: a = {rev_a}, b = {rev_b}, {len(pairs)} pairs from {start}")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    a, b, wins = [], [], 0
    print(f"\n{name} ({m['unit']}, {m['better']} is better)")
    print("pair  seed         a          b      b - a")
    for k in sorted(pairs):
        p = pairs[k]
        try:
            va = p["a"]["result"]["metrics"][name]["value"]
            vb = p["b"]["result"]["metrics"][name]["value"]
        except KeyError:
            print(f"{k:4d}  missing run"); continue
        a.append(va); b.append(vb)
        win = vb < va if lower else vb > va
        wins += win
        print(f"{k:4d}  {p['a']['seed']:4d}  {va:9.3f}  {vb:9.3f}  {vb - va:+9.3f}{'  win' if win else ''}")
    if a:
        (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
        print(f"median a {statistics.median(a):.3f} (IQR {a3 - a1:.3f}), median b {statistics.median(b):.3f} "
              f"(IQR {b3 - b1:.3f}), b wins {wins} of {len(a)}")
bad = [(r["pair"], r["side"]) for r in runs if not r["result"].get("correct")]
print(f"\nruns not correct: {bad if bad else 'none'}")
comp = [(r["pair"], r["side"], r["compiles"]) for r in runs if "compiles" in r]
for k, side, c in sorted(comp):
    print(f"compiles pair {k} side {side}: set-up {c['setup']}, per measured operation {c['per_op']}")
PY
