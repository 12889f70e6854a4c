#!/bin/bash
# Interleaved A/B of the repo benchmark (perfbench) from fresh copies.
#
#   tools/ab_interleaved.sh <workload> [pairs=10] [ref=HEAD] [first_seed=1]
#
# Side A is `git archive <ref>`; side B is the working tree's tracked and
# untracked, non-ignored files (`git ls-files -co --exclude-standard`).
# Each side is unpacked into its own temporary directory, so neither runs
# from the long-lived working tree (whose sbt state and warm caches read
# several percent apart from a fresh copy) and neither is ever built over
# the other's target/. Pair i runs seed first_seed+i-1 on both sides,
# `python3 perfbench/run.py --workload W --seed S --seconds 20 --trace 0`,
# alternating which side runs first; every run is printed as it finishes,
# then `perfbench/compare.py` over the two sets. The copies (with each
# run's record under perfbench/.work/) are left in the printed directory.
set -euo pipefail
W="${1:?usage: ab_interleaved.sh <workload> [pairs] [ref] [first_seed]}"
N="${2:-10}"; REF="${3:-HEAD}"; SEED0="${4:-1}"
ROOT=$(git rev-parse --show-toplevel)
TMP=$(mktemp -d "${TMPDIR:-/tmp}/ab_interleaved.XXXXXX")
mkdir -p "$TMP/A" "$TMP/B"
git -C "$ROOT" archive "$REF" | tar -x -C "$TMP/A"
(cd "$ROOT" && git ls-files -co --exclude-standard |
  while IFS= read -r f; do [ -e "$f" ] && printf '%s\0' "$f"; done |
  tar --null -T - -cf -) | tar -x -C "$TMP/B"
echo "A = $REF, B = working tree; copies in $TMP"

run() { # <side> <seed>
  local line
  line=$(cd "$TMP/$1" && python3 perfbench/run.py --workload "$W" \
    --seed "$2" --seconds 20 --trace 0 2>>"$TMP/$1.stderr" | tail -1) || true
  python3 -c '
import json, sys
side, seed, line = sys.argv[1:4]
try:
    r = json.loads(line)
except ValueError:
    print(f"seed {seed} {side}: run failed (see {side}.stderr)")
    sys.exit()
def fmt(v):
    return "none" if v is None else "%.4g" % v
m = " ".join("%s=%s" % (k, fmt(v.get("value"))) for k, v in r["metrics"].items())
print("seed %s %s: failed=%s/%s %s" % (seed, side, r["failed"], r["attempted"], m))
' "$1" "$2" "$line"
}

for i in $(seq 1 "$N"); do
  seed=$((SEED0 + i - 1))
  if [ $((i % 2)) = 1 ]; then run A "$seed"; run B "$seed"
  else run B "$seed"; run A "$seed"; fi
done
python3 "$TMP/B/perfbench/compare.py" "$TMP/A/perfbench/.work" \
  "$TMP/B/perfbench/.work"
