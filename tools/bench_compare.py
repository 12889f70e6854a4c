#!/usr/bin/env python3
"""Anchor-pair adjudication (the r21 doctrine, one command): compare two
committed fresh-session bench pairs per-query, the way every round's
perf claims are graded.

Reads each pair's summary + detail lines (BENCH_LAST.json format),
reports:
  - totals and failed lists;
  - WITHIN-pair dispersion: warm max/min median + p90 over shared warm
    rows (the run-to-run noise band — single-run deltas below it are
    not evidence);
  - CROSS-pair min-of-runs warm ratios: median (the machine-ERA factor
    — divide by it before reading any single query, per the r13
    doctrine), p90, and the worst rows;
  - rows past p90 flagged for adjudication (era-adjusted ratio shown —
    a row far above the era median on BOTH runs is a real regression:
    this is how r21 caught text_search_bm25's 2.25x from a one-line
    formulation change).

Usage: python3 tools/bench_compare.py <new pair dir> tools/bench_r26
       (newer pair first; each dir holds final_tree_run{1,2}.json)
"""
import json, statistics as st, sys

def load_pair(d):
    runs = []
    for i in (1, 2):
        lines = [json.loads(l) for l in open(f"{d}/final_tree_run{i}.json")
                 if l.strip()]
        summ = lines[0]
        det = next(l for l in lines if "queries" in l and "warm" in l)
        runs.append((summ, det["queries"], det.get("warm", {})))
    return runs

def main():
    new_dir, old_dir = sys.argv[1], sys.argv[2]
    new, old = load_pair(new_dir), load_pair(old_dir)
    for tag, pair in (("new", new), ("old", old)):
        print(f"{tag}: totals "
              f"{pair[0][0]['value']}/{pair[1][0]['value']} s, "
              f"n={pair[0][0].get('n_queries')}, "
              f"failed={pair[0][0]['failed']}+{pair[1][0]['failed']}")
    (s1, q1, w1), (s2, q2, w2) = new
    shared = {k for k in w1 if k in w2 and min(w1[k], w2[k]) > 0}
    disp = sorted(max(w1[k], w2[k]) / min(w1[k], w2[k]) for k in shared)
    print(f"within-pair warm max/min over {len(disp)}: "
          f"median {st.median(disp):.3f} p90 {disp[int(.9 * len(disp))]:.3f}")
    (o1, oq1, ow1), (o2, oq2, ow2) = old
    wn = {k: min(w1[k], w2[k]) for k in shared}
    wo = {k: min(ow1[k], ow2[k]) for k in ow1 if k in ow2}
    rr = sorted((wn[k] / wo[k], k) for k in wn if k in wo and wo[k] > 0)
    vals = [v for v, _ in rr]
    era = st.median(vals)
    p90 = vals[int(.9 * len(vals))]
    print(f"cross-pair warm min-of-runs over {len(vals)}: "
          f"era median {era:.3f} p90 {p90:.3f}")
    flagged = [(k, v) for v, k in rr if v > p90]
    print("past p90 (era-adjusted in parens):")
    for k, v in sorted(flagged, key=lambda t: -t[1]):
        print(f"  {k}: {v:.2f} ({v / era:.2f}) "
              f"warm new {wn[k]:.2f} old {wo[k]:.2f}")
    new_rows = sorted((min(q1[k], q2[k]), k) for k in q1
                      if k in q2 and k not in oq1)
    if new_rows:
        print("rows new since the old pair (min-of-runs cold):")
        for v, k in reversed(new_rows[-15:]):
            print(f"  {k}: {v:.2f}")

if __name__ == "__main__":
    main()
