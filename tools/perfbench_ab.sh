#!/usr/bin/env bash
# Interleaved A/B of the repository benchmark (perfbench/run.py) between a
# base revision and the working tree, in one session on one machine.
#
# Usage: tools/perfbench_ab.sh <base-rev> <workload> <seed>...
#   e.g. tools/perfbench_ab.sh HEAD cdc_ingest 1 2 3 4 5 6 7 8 9 10
#
# Exports <base-rev> (git archive) and the working tree (tracked and
# untracked, not ignored files, uncommitted edits included) into two
# directories under ${TMPDIR:-/tmp}, builds both, then runs one pair of
# runs per seed, alternating which side runs first (ABAB order, BA on
# every second seed). Each run is
#   python3 perfbench/run.py --workload W --seed S --seconds <run_seconds>
# with run_seconds from BENCHMARK.json. Prints, for every end-to-end
# metric, each side's median and quartiles, the pairs the working tree
# won, and every run flagged `contended` or not correct. Writes nothing
# in the checkout; the raw result lines stay in the printed directory.
set -euo pipefail
[ $# -ge 3 ] || { sed -n '2,17p' "$0" >&2; exit 2; }
base_rev=$1 workload=$2
shift 2
root=$(git rev-parse --show-toplevel)
git -C "$root" rev-parse --verify --quiet "$base_rev^{commit}" >/dev/null \
  || { echo "perfbench_ab: no such revision: $base_rev" >&2; exit 2; }
work=$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")
mkdir "$work/base" "$work/change"
git -C "$root" archive "$base_rev" | tar -x -C "$work/base"
(cd "$root" && git ls-files -z --cached --others --exclude-standard \
  | tar --null -T - --ignore-failed-read -cf - 2>/dev/null) | tar -x -C "$work/change"
trap 'rm -rf "$work/base" "$work/change"' EXIT

seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$work/change/BENCHMARK.json")
for side in base change; do
  echo "perfbench_ab: building $side" >&2
  bash "$work/$side/perfbench/build.sh"
done

runs=$work/runs.jsonl
i=0
for seed in "$@"; do
  if (( i % 2 == 0 )); then order="base change"; else order="change base"; fi
  for side in $order; do
    echo "perfbench_ab: seed $seed $side" >&2
    out=$(cd "$work/$side" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$seconds" --trace 0 2>>"$work/$side.stderr") \
      || { echo "perfbench_ab: seed $seed $side failed, see $work/$side.stderr" >&2; exit 1; }
    python3 -c 'import json,sys
lines = sys.stdin.read().strip().splitlines()
print(json.dumps({"side": sys.argv[1], "seed": int(sys.argv[2]),
                  "figures": json.loads(lines[-2]), "result": json.loads(lines[-1])}))' \
      "$side" "$seed" <<<"$out" >>"$runs"
  done
  i=$((i + 1))
done

python3 - "$runs" "$work/change/BENCHMARK.json" "$base_rev" "$workload" <<'EOF'
import json, statistics, sys
runs_path, spec_path, base_rev, workload = sys.argv[1:]
runs = [json.loads(l) for l in open(runs_path)]
spec = json.load(open(spec_path))
by = {(r["side"], r["seed"]): r for r in runs}
seeds = sorted({r["seed"] for r in runs})

def q(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

print(f"{workload}: {base_rev} (base) vs working tree (change), {len(seeds)} pairs, seeds {seeds}")
print(f"{'metric':<20} {'base median [q1-q3]':>28} {'change median [q1-q3]':>28} {'change/base':>11} {'won':>6}")
for m in spec["end_to_end"]:
    name = m["name"]
    val = lambda side, s: by[(side, s)]["result"]["metrics"][name]["value"]
    b = [val("base", s) for s in seeds]
    c = [val("change", s) for s in seeds]
    better = (lambda x, y: x < y) if m["better"] == "lower" else (lambda x, y: x > y)
    won = sum(better(val("change", s), val("base", s)) for s in seeds)
    (b1, bm, b3), (c1, cm, c3) = q(b), q(c)
    print(f"{name:<20} {f'{bm:.3f} [{b1:.3f}-{b3:.3f}]':>28} {f'{cm:.3f} [{c1:.3f}-{c3:.3f}]':>28}"
          f" {cm / bm if bm else float('nan'):>11.3f} {f'{won}/{len(seeds)}':>6}")
flagged = [r for r in runs if r["figures"]["env"].get("contended") or not r["result"]["correct"]]
for r in flagged:
    env = r["figures"]["env"]
    print(f"flagged: seed {r['seed']} {r['side']}: contended={env.get('contended')} "
          f"correct={r['result']['correct']} failed={r['result']['failed']} "
          f"steal_during={env.get('steal_share_during')}")
if not flagged:
    print("flagged: none (no run contended, every run correct)")
print(f"runs: {runs_path}")
EOF
