#!/bin/bash
# Paired A/B of the end-to-end benchmark (graftbench/run.py) between two
# revisions. Checks both out as git worktrees in a fresh temp dir, then for
# each seed runs the workload once on the parent and once on the change,
# alternating which side runs first. Prints, per end-to-end metric, each
# side's median and quartiles and how many pairs the change won, then each
# side's failed/attempted operations.
#
#   tools/ab.sh PARENT_REV CHANGE_REV WORKLOAD SEED...
#   e.g. tools/ab.sh HEAD~1 HEAD cdc_live 701 702 703 704 705 706 707 708 709 710
#
# The temp dir is made under $TMPDIR (default /tmp) and removed on exit,
# worktrees included. Run length is BENCHMARK.json's run_seconds at the
# change. Each side builds its own checkout on its first run.
set -euo pipefail
if [ $# -lt 4 ]; then
  sed -n '2,15p' "$0" >&2
  exit 2
fi
parent=$1 change=$2 workload=$3
shift 3
if [ $# -lt 10 ]; then
  echo "[ab] warning: $# pairs; run-to-run spread on 4 cores needs >= 10" \
    "alternating pairs to resolve a ~10% difference (analytics_mix" \
    "latency_p50_ms gave opposite verdicts in two 4-pair batches of" \
    "identical code)" >&2
fi
repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
work=$(mktemp -d "${TMPDIR:-/tmp}/ab.XXXXXX")
cleanup() {
  for side in parent change; do
    git -C "$repo" worktree remove --force "$work/$side" 2>/dev/null || true
  done
  git -C "$repo" worktree prune
  rm -rf "$work"
}
trap cleanup EXIT
git -C "$repo" worktree add -q --detach "$work/parent" "$parent"
git -C "$repo" worktree add -q --detach "$work/change" "$change"
spec="$work/change/BENCHMARK.json"
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$spec")

pair=0
for seed in "$@"; do
  if [ $((pair % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    # run.py exits non-zero on a failed operation; its JSON line still counts
    line=$(cd "$work/$side" && python3 graftbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$seconds" 2>"$work/$side-$seed.err" | tail -n 1) || true
    case "$line" in '{"correct"'*) ;; *) line=null ;; esac
    echo "{\"side\": \"$side\", \"seed\": $seed, \"result\": $line}" >> "$work/runs.jsonl"
    echo "[ab] $workload seed $seed $side: $line" >&2
  done
  pair=$((pair + 1))
done

python3 - "$spec" "$work/runs.jsonl" "$workload" <<'EOF'
import json, statistics, sys

spec = json.load(open(sys.argv[1]))
runs = [json.loads(l) for l in open(sys.argv[2])]
by = {(r["side"], r["seed"]): r["result"] for r in runs}
seeds = sorted({r["seed"] for r in runs})

def metric(result, name):
    m = result["metrics"].get(name) if result else None
    return m["value"] if isinstance(m, dict) else m

def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"workload {sys.argv[3]}, {len(seeds)} pairs, seeds {seeds}")
print(f"{'metric':<18} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} {'delta':>8} {'change wins':>12}")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    vals = {s: [v for k in seeds for v in [metric(by.get((s, k)), name)]
                if v is not None]
            for s in ("parent", "change")}
    if not vals["parent"] or not vals["change"]:
        print(f"{name:<18} (no data)")
        continue
    cells = []
    for s in ("parent", "change"):
        q1, q2, q3 = quart(vals[s])
        cells.append((q2, f"{q2:.4g} [{q1:.4g}, {q3:.4g}] {m['unit']}"))
    wins = pairs = 0
    for k in seeds:
        a, b = metric(by.get(("parent", k)), name), metric(by.get(("change", k)), name)
        if a is not None and b is not None:
            pairs += 1
            wins += (b < a) if lower else (b > a)
    delta = (cells[1][0] - cells[0][0]) / cells[0][0] * 100 if cells[0][0] else float("nan")
    print(f"{name:<18} {cells[0][1]:>30} {cells[1][1]:>30} {delta:>+7.1f}% {wins:>6}/{pairs}")
for s in ("parent", "change"):
    res = [by.get((s, k)) for k in seeds]
    ok = [r for r in res if r]
    print(f"{s}: failed/attempted {sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)}, "
          f"incorrect runs {sum(not r['correct'] for r in ok)}, runs without a result {len(res) - len(ok)}")
EOF
