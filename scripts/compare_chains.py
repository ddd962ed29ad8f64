#!/usr/bin/env python3
"""Compare two bench JSONs query-by-query: shared-query total ratio,
median ratio, and movers past a threshold. Usage:
  python3 scripts/compare_chains.py old.json new.json [threshold]
The min-of-2 `queries` column is always compared; the run-1
`queries_cold` column is compared too whenever both files carry it.
"""
import json, sys, statistics

old = json.load(open(sys.argv[1]))
new = json.load(open(sys.argv[2]))
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5


def compare(column):
    qo, qn = old[column], new[column]
    shared = sorted(set(qo) & set(qn))
    ro = sum(qo[q] for q in shared)
    rn = sum(qn[q] for q in shared)
    ratios = [(qn[q] / qo[q], q) for q in shared if qo[q] > 0.05]
    med = statistics.median(r for r, _ in ratios)
    print(f"[{column}] shared={len(shared)} old_total={ro:.1f}s "
          f"new_total={rn:.1f}s ratio={rn/ro:.2f} median_ratio={med:.2f}")
    movers = sorted((r, q) for r, q in ratios if (r > thr or r < 1/thr) and
                    max(qo[q], qn[q]) > 1.0)
    for r, q in movers:
        print(f"  {q}: {qo[q]:.2f} -> {qn[q]:.2f}  ({r:.2f}x)")
    only_new = sorted(set(qn) - set(qo))
    if only_new:
        print("  new-only:", {q: round(qn[q], 2) for q in only_new})


compare("queries")
if "queries_cold" in old and "queries_cold" in new:
    compare("queries_cold")
print(f"old sentinel={old.get('sentinel')} new sentinel={new.get('sentinel')}")
