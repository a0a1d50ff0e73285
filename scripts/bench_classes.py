#!/usr/bin/env python3
"""Per-class s/query decomposition of a Bench JSON artifact.

The inventory mixes query classes with order-of-magnitude different
intrinsic costs (a ref_* parity projection vs a 5-iteration pagerank vs
a query that COMMITS an index mid-flight). A single headline s/query
therefore moves whenever the composition changes, not only when
something regresses — this table is the mechanical decomposition that
separates the two (verdict r8 task #8), reused by bench_diff.

Classes (parity, analytic, index-build, iterative) are assigned by the
engine (`graft.queries.Q.classOf`, documented there) and read from the
artifact's "classes_by_query" map, so the taxonomy has one definition.

Usage: python3 scripts/bench_classes.py <bench.json>
"""
import json
import sys

CLASSES = ["parity", "analytic", "index-build", "iterative"]


NO_CLASSES = ("no classes_by_query map in {} (written by graft.Bench "
              "since the class taxonomy moved into the engine); "
              "per-class section skipped")


def decompose(queries, classes):
    """{class: (n, total_sec)} over non-error entries."""
    out = {c: [0, 0.0] for c in CLASSES}
    for name, t in queries.items():
        if t is None or t < 0:
            continue
        c = classes[name]
        out[c][0] += 1
        out[c][1] += t
    return {c: (n, tot) for c, (n, tot) in out.items()}


def table(queries, classes):
    rows = decompose(queries, classes)
    lines = [f"{'class':<12} {'n':>4} {'total_s':>9} {'s_per_q':>8}"]
    for c in CLASSES:
        n, tot = rows[c]
        spq = tot / n if n else 0.0
        lines.append(f"{c:<12} {n:>4} {tot:>9.1f} {spq:>8.3f}")
    n_all = sum(n for n, _ in rows.values())
    t_all = sum(t for _, t in rows.values())
    lines.append(f"{'ALL':<12} {n_all:>4} {t_all:>9.1f} "
                 f"{t_all / n_all if n_all else 0.0:>8.3f}")
    return "\n".join(lines)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        d = json.load(f)
    if "classes_by_query" not in d:
        sys.exit(NO_CLASSES.format(sys.argv[1]))
    print(table(d.get("queries", {}), d["classes_by_query"]))
