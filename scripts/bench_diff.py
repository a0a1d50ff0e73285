#!/usr/bin/env python3
"""Attribute bench drift between two Bench JSON artifacts.

Usage: python3 scripts/bench_diff.py <old.json> <new.json> [ratio]

For every query present in both artifacts, classifies the timing delta:
  - PLAN    the plan fingerprint changed -> a replan, not machine noise;
            always shown, whatever the timing did
  - SLOWER / FASTER  same fingerprint, wall moved beyond the ratio
            threshold (default 1.5x) -> investigate (data? corpus? GC?)
  - lost/new         query present on only one side

Same fingerprint + inside the threshold = noise; suppressed. Exit code
is 1 when any PLAN or SLOWER line fires, so a driver can gate on it.
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d.get("queries", {}), d.get("plans", {}), d.get("classes_by_query")


def main(old_path, new_path, ratio=1.5):
    oq, op, _ = load(old_path)
    nq, np_, ncls = load(new_path)
    bad = 0
    for name in sorted(set(oq) | set(nq)):
        if name not in nq:
            print(f"lost    {name}: was {oq[name]:.2f}s")
            bad += 1
            continue
        if name not in oq:
            print(f"new     {name}: {nq[name]:.2f}s  [{np_.get(name, '?')}]")
            continue
        t0, t1 = oq[name], nq[name]
        fp0, fp1 = op.get(name), np_.get(name)
        if t0 < 0 or t1 < 0:
            print(f"ERR     {name}: old={t0} new={t1}")
            bad += 1
            continue
        if fp0 is not None and fp1 is not None and fp0 != fp1:
            print(f"PLAN    {name}: {t0:.2f}s -> {t1:.2f}s")
            print(f"        old [{fp0}]")
            print(f"        new [{fp1}]")
            bad += 1
            continue
        if t1 > t0 * ratio and t1 - t0 > 0.2:
            print(f"SLOWER  {name}: {t0:.2f}s -> {t1:.2f}s (same plan)")
            bad += 1
        elif t0 > t1 * ratio and t0 - t1 > 0.2:
            print(f"FASTER  {name}: {t0:.2f}s -> {t1:.2f}s (same plan)")
    # per-class s/query over the COMMON queries: separates composition
    # drift (new heavy classes joined the inventory) from same-class
    # regression — see bench_classes.py. Classes come from the newer
    # artifact, which covers every common query.
    from bench_classes import CLASSES, NO_CLASSES
    if ncls is None:
        print("\n" + NO_CLASSES.format(new_path))
    else:
        common = [n for n in oq if n in nq and oq[n] >= 0 and nq[n] >= 0]
        per = {c: [0, 0.0, 0.0] for c in CLASSES}
        for n in common:
            c = ncls[n]
            per[c][0] += 1
            per[c][1] += oq[n]
            per[c][2] += nq[n]
        print(f"\nper-class s/query over {len(common)} common queries "
              "(old -> new):")
        for c in CLASSES:
            k, t0, t1 = per[c]
            if k:
                print(f"  {c:<12} n={k:<4} {t0 / k:.3f} -> {t1 / k:.3f} "
                      f"({t1 / t0:.2f}x)")
    print("diff done" + (f" — {bad} finding(s)" if bad else " — clean"))
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    r = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    sys.exit(main(sys.argv[1], sys.argv[2], r))
