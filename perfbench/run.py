"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--queries a,b,...]

Run from the repository root. Builds the engine and the harness
(perfbench/build.py), generates the workload's inputs from the seed, runs
the harness in one JVM at local[nproc], checks every op's output, writes a
result artifact under .bench_build/perfbench/results/ and prints, as the
last line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.

A run during which the hypervisor stole more than MAX_STEAL_SHARE of the
machine's CPU time is thrown away and run again while the time budget
allows; when it does not, the benchmark exits 3 without a result.

Workloads: ingest_backfill, store_mixed, query_mix (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest_backfill", "store_mixed", "query_mix")
RUN_BUDGET_S = 160  # input generation and harness runs, build excluded
MAX_STEAL_SHARE = 0.05  # of the machine's CPU time while the harness ran
DRIVER_MEM = "2g"
QUERY_SCALE = 0.01
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_util", "_amp", "_max")):
        return "ratio"
    return "count"


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def steal_s():
    """CPU time the hypervisor took from this machine since boot, if known."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    """HEAD of the checkout when it is a git work tree, else None."""
    if not os.path.isdir(".git"):
        return None
    try:
        r = subprocess.run(["git", "--git-dir=.git", "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(cp, args, work, out, data, log, timeout):
    """Runs the harness JVM; returns its exit code, or None on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=warn"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    if data:
        cmd += ["--data", data]
    if args.queries:
        cmd += ["--queries", args.queries]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def measure(cp, args, base, data, deadline):
    """Runs the harness until one run is not disturbed by CPU steal.
    Returns its document and the list of attempts; exits 3 when the
    deadline comes first."""
    ncpu = os.cpu_count() or 1
    attempts = []
    while True:
        work = os.path.abspath(os.path.join(base, f"work{len(attempts)}"))
        out = os.path.join(base, f"harness{len(attempts)}.json")
        log = os.path.join(base, f"harness{len(attempts)}.log")
        st0, t0 = steal_s(), time.monotonic()
        rc = run_harness(cp, args, work, out, data, log,
                         timeout=max(1.0, deadline - t0))
        wall, st1 = time.monotonic() - t0, steal_s()
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"perfbench: harness failed (exit {rc})")
        share = (st1 - st0) / (wall * ncpu) if st0 is not None else 0.0
        attempts.append({"wall_s": wall, "steal_share": share})
        if share <= MAX_STEAL_SHARE:
            with open(out) as f:
                return json.load(f), attempts
        sys.stderr.write(f"perfbench: {share:.1%} of CPU time stolen, "
                         "run discarded\n")
        shutil.rmtree(work, ignore_errors=True)
        if time.monotonic() + wall > deadline:
            sys.stderr.write("perfbench: host too noisy, no result\n")
            raise SystemExit(3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", default=None,
                    help="query_mix only: comma-separated inventory names")
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build.build(".")
    deadline = time.monotonic() + RUN_BUDGET_S
    base = os.path.join(build.OUT, "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    try:
        load0 = loadavg()
        prep_s, data = 0.0, None
        if args.workload == "query_mix":
            import gen_tables
            data = os.path.abspath(os.path.join(base, "data"))
            t = time.perf_counter()
            gen_tables.write(data, args.seed, QUERY_SCALE)
            prep_s = time.perf_counter() - t
        doc, attempts = measure(cp, args, base, data, deadline)
        load1 = loadavg()

        oracle_failed = []
        if args.workload == "query_mix":
            import oracle
            orc = oracle.Oracle(data, doc["workload"]["oracle"])
            for o in doc["ops"]:
                if o["ok"]:
                    why = orc.check(o["name"], o["out"])
                    if why:
                        oracle_failed.append(o["id"])
                        doc["checks"].append({"op": o["id"], "ok": False,
                                              "what": f"{o['name']}: {why}"})
                    else:
                        doc["checks"].append({"op": o["id"], "ok": True,
                                              "what": None})
            doc["context"]["inputs"]["scale"] = QUERY_SCALE

        failed = metrics.failed_ops(doc, oracle_failed)
        attempted = len(doc["ops"]) + doc["warm_failed"]
        mods = metrics.module_map(".")
        if args.trace:
            values = metrics.per_layer(doc, mods)
        else:
            values = metrics.end_to_end(doc)
        ctx = dict(doc["context"], nproc=os.cpu_count(),
                   loadavg_1m_before=load0, loadavg_1m_after=load1,
                   attempts=attempts, git_commit=git_commit(), input_prep_s=prep_s,
                   workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=args.trace)
        artifact = {"context": ctx, "attempted": attempted,
                    "failed": len(failed), "metrics": values,
                    "failed_op_ratio": len(failed) / attempted if attempted else 0,
                    "failed_checks": [c for c in doc["checks"] if not c["ok"]],
                    "passes": doc["passes"], "ops": doc["ops"]}
        if args.trace:
            sp = metrics.spans(doc, mods)
            st = metrics.self_times(sp)
            for s in sp:
                s["self_ms"] = st[s["id"]]
            artifact["spans"] = sp
        res_dir = os.path.join(build.OUT, "results")
        os.makedirs(res_dir, exist_ok=True)
        res = os.path.join(res_dir,
                           f"{args.workload}-s{args.seed}-t{args.trace}.json")
        with open(res, "w") as f:
            json.dump(artifact, f, indent=1)
        with open(res[:-5] + ".harness.json", "w") as f:
            json.dump(doc, f)

        for c in artifact["failed_checks"][:10]:
            print(f"FAILED CHECK op={c['op']}: {c['what']}")
        print(f"context: {json.dumps(ctx, sort_keys=True)}")
        for k, v in values.items():
            print(f"{k} = {v} {unit_of(k)}")
        print(f"artifact: {res}")
        print(json.dumps({
            "correct": not failed, "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in values.items()}}))
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
