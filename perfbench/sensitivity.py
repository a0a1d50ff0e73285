"""Sensitivity check: does the traced query_mix resolve a known change?

For each commit C and its parent, exports the tree at that revision into
<work>/<rev>, copies this perfbench directory beside it, runs

    run.py --workload query_mix --seed 1 --seconds 1 --trace 1 --queries Q

for each target query Q (one pass: one execution of Q after the warm-up)
and prints the structural per-layer metrics of parent and commit side by
side as a markdown table.

Usage (from a git work tree):
    python3 perfbench/sensitivity.py <work_dir> <commit>:<query>[,<query>] ...
"""
import json
import os
import shutil
import subprocess
import sys

METRICS = ["spark.jobs", "spark.stages", "spark.tasks",
           "spark.single_task_stages", "shuffle.write_bytes",
           "shuffle.read_bytes", "spark.executor_cpu_s", "spark.driver_gap_s",
           "op.p50_s"]


def export(rev, work):
    dst = os.path.join(work, rev)
    if not os.path.isdir(dst):
        os.makedirs(dst)
        tar = subprocess.run(["git", "archive", rev], check=True,
                             capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dst], input=tar, check=True)
    here = os.path.dirname(os.path.abspath(__file__))
    shutil.rmtree(os.path.join(dst, "perfbench"), ignore_errors=True)
    shutil.copytree(here, os.path.join(dst, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    return dst


def measure(tree, query):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "query_mix", "--seed", "1", "--seconds", "1",
                        "--trace", "1", "--queries", query],
                       cwd=tree, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        return None, r.stderr[-500:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return {k: res["metrics"][k]["value"] for k in METRICS}, res["correct"]


def main(work, specs):
    for spec in specs:
        commit, queries = spec.split(":")
        parent = subprocess.run(["git", "rev-parse", "--short", commit + "^"],
                                check=True, capture_output=True,
                                text=True).stdout.strip()
        trees = {rev: export(rev, work) for rev in (parent, commit)}
        for q in queries.split(","):
            got = {rev: measure(tree, q) for rev, tree in trees.items()}
            print(f"\n### {commit} vs parent {parent}: `{q}`\n")
            print(f"| metric | {parent} | {commit} | delta |")
            print("|---|---|---|---|")
            a, b = got[parent][0], got[commit][0]
            if a is None or b is None:
                print(f"| run failed | {got[parent][1]} | {got[commit][1]} | |")
                continue
            for k in METRICS:
                d = b[k] - a[k]
                rel = f" ({d / a[k]:+.0%})" if a[k] else ""
                print(f"| {k} | {a[k]:.4g} | {b[k]:.4g} | {d:+.4g}{rel} |")
            print(f"\noutputs correct: {got[parent][1]} / {got[commit][1]}")
            sys.stdout.flush()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
