#!/bin/bash
# Interleaved A/B of the WORKING TREE vs HEAD on a bench filter set.
# A = HEAD (stash), B = working tree. usage: ab_interleaved.sh <filter> [rounds]
#
# Stash discipline: compare stash@{0} before and after the
# push and only pop when one WAS created — on a clean tree `git stash -q` saves
# nothing and a blind pop would pull an unrelated pre-existing stash entry
# into the tree; `-u` includes untracked files so the A side is pure HEAD;
# a trap restores the working tree even if a compile/bench step dies.
set -e
F="$1"; N="${2:-2}"
cd /root/repo
STASHED=0
restore() {
  if [ "$STASHED" = 1 ]; then
    git stash pop -q && STASHED=0
  fi
}
trap restore EXIT
# run one side: runA <round> | runB <round>
runA() {
  # a push that saved something moves stash@{0}; matching the message
  # instead would also match an older entry (ab_interleaved_1 vs _10)
  local before after
  before=$(git rev-parse -q --verify 'stash@{0}' || true)
  git stash push -q -u -m "ab_interleaved_$1" 2>/dev/null || true
  after=$(git rev-parse -q --verify 'stash@{0}' || true)
  if [ -n "$after" ] && [ "$after" != "$before" ]; then
    STASHED=1
  fi
  sbt compile -batch >/dev/null 2>&1
  SPARK_GRAFT_BENCH_FILTER="$F" SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_OUT="/tmp/abx_A_$1.json" \
    sbt -batch 'runMain graft.Bench' >/dev/null 2>&1 || true
  restore
}
runB() {
  sbt compile -batch >/dev/null 2>&1
  SPARK_GRAFT_BENCH_FILTER="$F" SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_OUT="/tmp/abx_B_$1.json" \
    sbt -batch 'runMain graft.Bench' >/dev/null 2>&1 || true
}
for round in $(seq 1 "$N"); do
  # ALTERNATE side order per round (r21): with a fixed A-then-B order,
  # a box that warms/throttles through the session biases every round
  # against B — measured twice before this fix (B read +10-20% cold on
  # queries the candidate change did not even touch)
  if [ $((round % 2)) = 1 ]; then
    runA "$round"; runB "$round"
  else
    runB "$round"; runA "$round"
  fi
  echo "round $round done"
done
python3 - "$N" <<'PYEOF'
import json, sys
n = int(sys.argv[1])
def mins(tag):
    runs = []
    for i in range(1, n + 1):
        try:
            for l in open(f'/tmp/abx_{tag}_{i}.json'):
                d = json.loads(l)
                if 'queries' in d:
                    runs.append(d)
        except FileNotFoundError:
            pass
    cold = {k: min(r['queries'][k] for r in runs) for k in runs[0]['queries']}
    warm = {}
    for k in runs[0].get('warm', {}):
        vs = [r['warm'][k] for r in runs if k in r.get('warm', {})]
        if vs:
            warm[k] = min(vs)
    return cold, warm
ca, wa = mins('A')
cb, wb = mins('B')
print(f"{'query':34} {'A.cold':>7} {'B.cold':>7} {'A.warm':>7} {'B.warm':>7}")
for k in sorted(ca):
    print(f"{k:34} {ca[k]:7.2f} {cb.get(k,0):7.2f} "
          f"{wa.get(k,0):7.2f} {wb.get(k,0):7.2f}")
print('A cold sum', round(sum(ca.values()),1), ' B cold sum', round(sum(cb.values()),1))
PYEOF
