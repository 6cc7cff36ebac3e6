#!/bin/bash
# Interleaved A/B of perfbench between two git revisions on one workload.
#
# Exports both revisions with `git archive` into a fresh directory under
# ${TMPDIR:-/tmp}, then runs `perfbench/run.py --trace 0` once per side per
# seed, each side in its own checkout, with the run length BENCHMARK.json
# fixes. Odd seeds run the change first, even seeds the parent, so box
# drift hits both sides alike. Only the last stdout line of each run (its
# JSON result) is read.
#
# Prints, per end-to-end metric of BENCHMARK.json: each side's median and
# quartiles, how many seed pairs the change won (ties count for neither),
# and whether the gap between medians exceeds the parent's interquartile
# range: the gain rule of the choosing-metrics guide, section 8.
#
# Usage: scripts/perfbench_ab.sh <parentRev> <changeRev> <workload> <seed...>
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 4 ]; then
  echo "usage: $0 <parentRev> <changeRev> <workload> <seed...>" >&2
  exit 2
fi
PARENT=$1; CHANGE=$2; WORKLOAD=$3; shift 3
WORK=$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")
for side in parent change; do
  if [ "$side" = parent ]; then rev=$PARENT; else rev=$CHANGE; fi
  mkdir "$WORK/$side"
  git archive "$rev" | tar -x -C "$WORK/$side"
done
RUN_SECONDS=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$WORK/change/BENCHMARK.json")

run() { # $1 = side, $2 = seed
  echo "== seed $2 $1 ==" >&2
  (cd "$WORK/$1" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
     --seconds "$RUN_SECONDS" --trace 0 2>/dev/null | tail -n 1) >"$WORK/$1.$2.json" || true
}
for seed in "$@"; do
  if [ $((seed % 2)) -eq 1 ]; then order="change parent"; else order="parent change"; fi
  for side in $order; do run "$side" "$seed"; done
done

python3 - "$WORK" "$WORKLOAD" "$PARENT" "$CHANGE" "$@" <<'EOF'
import json
import statistics
import sys

work, workload, parent_rev, change_rev, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:]
bench = json.load(open(f"{work}/change/BENCHMARK.json"))


def result(side, seed):
    try:
        return json.loads(open(f"{work}/{side}.{seed}.json").read())
    except (OSError, ValueError):
        return None


runs = {side: {s: result(side, s) for s in seeds} for side in ("parent", "change")}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


print(f"workload {workload}: parent {parent_rev}, change {change_rev}, "
      f"seeds {' '.join(seeds)}, run_seconds {bench['run_seconds']}")
for side in ("parent", "change"):
    rs = [r for r in runs[side].values() if r is not None]
    print(f"  {side}: {len(rs)}/{len(seeds)} runs reported, "
          f"{sum(1 for r in rs if r.get('correct'))} correct, "
          f"failed {sum(r.get('failed', 0) for r in rs)}/{sum(r.get('attempted', 0) for r in rs)} iterations")
print(f"  {'metric':<18} {'parent median [q1-q3]':>28} {'change median [q1-q3]':>28} "
      f"{'change wins':>12} {'gap > parent IQR':>17}")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(runs["parent"][s], runs["change"][s]) for s in seeds]
    pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in pairs
             if p is not None and c is not None and name in p.get("metrics", {}) and name in c.get("metrics", {})]
    if not pairs:
        print(f"  {name:<18} no paired runs")
        continue
    pa, ch = [p for p, _ in pairs], [c for _, c in pairs]
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(pa), quartiles(ch)
    gap = abs(cm - pm) > pq3 - pq1
    print(f"  {name:<18} {f'{pm:.4g} [{pq1:.4g}-{pq3:.4g}]':>28} {f'{cm:.4g} [{cq1:.4g}-{cq3:.4g}]':>28} "
          f"{f'{wins}/{len(pairs)}':>12} {'yes' if gap else 'no':>17}")
print(f"  raw results: {work}")
EOF
