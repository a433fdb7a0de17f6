#!/usr/bin/env python
"""Quick status of the annotate scaling pool (BENCH/curation_scaling.json).

Prints the cross-phase composite, the per-round variable-part series
tail, and each cell's latest wall vs pooled best, so the operator can
see at a glance whether a quiet-phase round has landed (all four cells
at/near best in ONE round) or whether >=3 consecutive same-phase
rounds clear 0.8.

Usage: python scripts/pool_status.py [LO,HI]   # level pair, default 2,8
"""
import json
import pathlib
import sys

lo, hi = (sys.argv[1] if len(sys.argv) > 1 else "2,8").split(",")
sfx = f"@{lo}_{hi}"
d = json.loads((pathlib.Path(__file__).resolve().parents[1]
                / "BENCH" / "curation_scaling.json").read_text())
v = d.get(f"annotate_variable_x800_x3200{sfx}")
a, a3 = d.get(f"annotate{sfx}"), d.get(f"annotate_x3200{sfx}")
if not (v and a and a3):
    # curation_scaling.py resets the file to {"code_key": ...} whenever
    # the measured code changes
    print(f"pool {sfx} empty/reset: no annotate entries yet")
    sys.exit()
per = v["per_round_efficiency"]
print(f"composite(pooled-best) = {v['efficiency']}  rounds = {len(per)}")
print("per-round tail:", [round(x, 3) for x in per[-8:]])
run = 0
for x in reversed(per):
    if x >= 0.8:
        run += 1
    else:
        break
print(f"consecutive rounds >= 0.8 (from latest): {run}")
raw = d.get("raw", {})
for lvl in (lo, hi):
    for job in (f"annotate{sfx}", f"annotate_x3200{sfx}"):
        arr = raw.get(lvl, {}).get(job)
        if arr:
            print(f"local[{lvl}] {job:22s} last={arr[-1]:7.1f}s "
                  f"best={min(arr):7.1f}s  (+{100*(arr[-1]/min(arr)-1):.0f}%)")
ratio = int(hi) / int(lo)
dl_lo = a3[f"best_local{lo}_s"] - a[f"best_local{lo}_s"]
dl_hi = a3[f"best_local{hi}_s"] - a[f"best_local{hi}_s"]
print(f"pooled deltas: l{lo}={dl_lo:.1f}s l{hi}={dl_hi:.1f}s "
      f"-> eff {dl_lo/dl_hi/ratio:.3f}  (l{hi}@3200x best needed for 0.8: "
      f"{a[f'best_local{hi}_s'] + dl_lo/(0.8*ratio):.1f}s)")
