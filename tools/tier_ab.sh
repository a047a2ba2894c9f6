#!/bin/bash
# Paired A/B of a query tier between two revisions, timed in-session by
# graft.tools.TimeMany. Checks both out as git worktrees in a fresh temp
# dir, then for each round runs TimeMany once on the parent and once on the
# change, alternating which side runs first. Prints, per key, each side's
# median cold time (rep 1: corpus read + memo builds) and median warm time
# (best of reps 2..REPS) across rounds, then per-round totals with their
# quartiles and how many rounds the change won.
#
#   tools/tier_ab.sh PARENT_REV CHANGE_REV SF_DIR REPS ROUNDS KEY,KEY,...
#   e.g. tools/tier_ab.sh HEAD~1 HEAD /data/sf0.1 2 4 q_spearman,emb_pca
#
# KEYs are TimeMany name prefixes. REPS must be >= 2 for a warm time.
# SPARK_GRAFT_CPUS (default: nproc) sets the local session's cores; sbt
# runs with the caller's SBT_OPTS. The temp dir is made under $TMPDIR
# (default /tmp) and removed on exit, worktrees included; the per-round
# timings are first kept as target/tier_ab/<parent>-<change>-<UTC stamp>.txt
# (short SHAs; lines "side round rep key secs"), the path printed on
# stderr, so a verdict can be re-examined. Each side compiles its own
# checkout on its first round (outside the timed region).
set -euo pipefail
if [ $# -ne 6 ]; then
  sed -n '2,20p' "$0" >&2
  exit 2
fi
parent=$1 change=$2 sf=$3 reps=$4 rounds=$5 keys=$6
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
work=$(mktemp -d "${TMPDIR:-/tmp}/tier_ab.XXXXXX")
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
: > "$work/times.txt"

for round in $(seq 1 "$rounds"); do
  if [ $((round % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    log="$work/$side-$round.log"
    (cd "$work/$side" && sbt --batch -Dsbt.log.noformat=true \
      "Test/runMain graft.tools.TimeMany $sf $reps $keys") >"$log" 2>&1 || true
    # "[info] [timemany] rep=R name secs s rows=N" -> side round rep name secs
    sed -n 's/^.*\[timemany\] rep=\([0-9]*\) *\([^ ]*\) *\([0-9.]*\) s rows=.*/\1 \2 \3/p' "$log" |
      while read -r rep name secs; do
        echo "$side $round $rep $name $secs" >> "$work/times.txt"
      done
    n=$(grep -c "\[timemany\] rep=" "$log" || true)
    echo "[tier_ab] round $round $side: $n timings" >&2
    if [ "$n" -eq 0 ]; then tail -n 20 "$log" >&2; fi
  done
done

kept="$repo/target/tier_ab/$(git -C "$repo" rev-parse --short "$parent")-$(git -C "$repo" rev-parse --short "$change")-$(date -u +%Y%m%dT%H%M%SZ).txt"
mkdir -p "$(dirname "$kept")"
cp "$work/times.txt" "$kept"
echo "[tier_ab] per-round timings kept in $kept" >&2

python3 - "$kept" "$rounds" "$reps" <<'EOF'
import collections, statistics, sys

rounds, reps = int(sys.argv[2]), int(sys.argv[3])
t = collections.defaultdict(dict)  # (side, round, name) -> {rep: secs}
for line in open(sys.argv[1]):
    side, rnd, rep, name, secs = line.split()
    t[(side, int(rnd), name)][int(rep)] = float(secs)
names = sorted({k[2] for k in t})
sides = ("parent", "change")

def cold(side, rnd, name):
    return t.get((side, rnd, name), {}).get(1)

def warm(side, rnd, name):
    w = [s for r, s in t.get((side, rnd, name), {}).items() if r >= 2]
    return min(w) if w else None

def med(xs):
    return statistics.median(xs) if xs else float("nan")

def quart(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))

print(f"{len(names)} keys, {rounds} rounds, {reps} reps; medians over rounds, seconds")
print(f"{'key':<28} {'cold parent':>11} {'cold change':>11} {'warm parent':>11} {'warm change':>11}")
for n in names:
    cells = []
    for f in (cold, warm):
        for s in sides:
            cells.append(med([v for r in range(1, rounds + 1)
                              for v in [f(s, r, n)] if v is not None]))
    print(f"{n:<28} " + " ".join(f"{c:>11.2f}" for c in cells))

for label, f in (("cold", cold), ("warm", warm)):
    # a round's total counts only when every key has a time on both sides
    tot = {s: {} for s in sides}
    for r in range(1, rounds + 1):
        vals = {s: [f(s, r, n) for n in names] for s in sides}
        if all(v is not None for s in sides for v in vals[s]):
            for s in sides:
                tot[s][r] = sum(vals[s])
    full = sorted(tot["parent"])
    if not full:
        print(f"{label} total: no round with a complete set of timings")
        continue
    cells = []
    for s in sides:
        q1, q2, q3 = quart([tot[s][r] for r in full])
        cells.append(f"{s} {q2:.2f} [{q1:.2f}, {q3:.2f}]")
    wins = sum(tot["change"][r] < tot["parent"][r] for r in full)
    print(f"{label} total median [q1, q3]: {cells[0]}  {cells[1]}  "
          f"change faster in {wins}/{len(full)} rounds")
missing = [(s, r) for s in sides for r in range(1, rounds + 1)
           if not any(k[0] == s and k[1] == r for k in t)]
if missing:
    print(f"runs without timings (log tails above): {missing}")
EOF
