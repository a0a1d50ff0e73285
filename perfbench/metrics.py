"""Metric math of the benchmark, kept free of I/O so it can be tested on
synthetic events (perfbench/test_metrics.py).

Input is the harness document (perfbench/harness/Harness.scala): op
records with epoch-millisecond start and end times, pass records, output
checks and, for a traced run, Spark listener events. Spans nest as
op -> SQL execution -> job; each job is charged to the engine module whose
source file holds the call site of the action that started it, with two
exceptions: a job that parses raw NDJSON is charged to io.RawEvents, and a
job that the benchmark's own action starts is charged to the layer that
built the op's plan.
"""
import math
import os
import re
import statistics

# Layers reported per module; everything else under src/main/scala/graft is
# "other". `functions` is folded into "other": its code runs inside the plans
# other layers build and materialize, so it never starts a job of its own.
MODULES = ["pipeline", "io.RawEvents", "io.CuratedWriter", "io.Snapshots",
           "dq", "queries", "operators", "other", "unattributed"]

# The benchmark's own source files (perfbench/harness); their actions are
# charged to the op's `plan_layer`.
CLIENT = "client"

_CALL_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.scala):\d+")


# ---- generic math ----------------------------------------------------------

def union_ms(intervals):
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0.0, -math.inf
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span
    return (t1 - t0) - union_ms(clip(children, t0, t1))


def space_amp(table_bytes, live_bytes):
    return table_bytes / live_bytes if live_bytes else 0.0


def median(values, default=0.0):
    return statistics.median(values) if values else default


# ---- module attribution ----------------------------------------------------

def module_map(root="."):
    """Source file name -> layer, from the engine and benchmark trees."""
    out = {}
    base = os.path.join(root, "src/main/scala/graft")
    for d, _, files in os.walk(base):
        rel = os.path.relpath(d, base).split(os.sep)
        for f in files:
            if not f.endswith(".scala"):
                continue
            if rel == ["io"]:
                m = "io." + f[:-6]
            elif rel[0] in MODULES:
                m = rel[0]
            else:
                m = "other"
            out[f] = m
    for f in os.listdir(os.path.join(root, "perfbench/harness")):
        out[f] = CLIENT
    return out


def module_of(call_site, mods):
    """Layer of a call site such as 'parquet at Snapshots.scala:1275'."""
    if not call_site:
        return "unattributed"
    m = _CALL_SITE.search(call_site)
    if not m:
        return "unattributed"
    return mods.get(m.group(1), "unattributed")


def exec_module(e, op, mods):
    """Layer of a SQL execution inside `op`: io.RawEvents when its plan
    scans NDJSON (the raw zone's parse, whichever layer forces it), the
    op's plan_layer when the benchmark's own action started it, else the
    module of its call site."""
    if "json" in e.get("scans", ()):
        return "io.RawEvents"
    m = module_of(e["desc"], mods)
    return op.get("plan_layer", "unattributed") if m == CLIENT else m


# ---- spans -----------------------------------------------------------------

def spans(doc, mods):
    """Flattens the traced run into op / exec / job spans with parents."""
    tr = doc["trace"]
    ops = {o["id"]: o for o in doc["ops"]}
    ends = {e["id"]: e["t1"] for e in tr["exec_ends"]}
    jend = {j["id"]: j for j in tr["job_ends"]}
    execs = {e["id"]: e for e in tr["execs"] if e["id"] in ends}
    # an execution belongs to the op its jobs carry, else to the op running
    # when it started
    owner = {e: next((o["id"] for o in ops.values()
                      if o["t0"] <= execs[e]["t0"] <= o["t1"]), None)
             for e in execs}
    for j in tr["jobs"]:
        if j["exec"] in execs and j["op"] in ops:
            owner[j["exec"]] = j["op"]

    out = [{"id": f"op{o['id']}", "layer": "op", "name": o["name"],
            "t0": o["t0"], "t1": o["t1"], "parent": None, "op": o["id"]}
           for o in doc["ops"]]
    for e in execs.values():
        op = owner[e["id"]]
        if op is None:
            continue
        out.append({"id": f"exec{e['id']}", "layer": "exec",
                    "module": exec_module(e, ops[op], mods), "name": e["desc"],
                    "t0": e["t0"], "t1": ends[e["id"]],
                    "parent": f"op{op}", "op": op})
    for j in tr["jobs"]:
        if j["op"] not in ops or j["id"] not in jend:
            continue
        ex = j["exec"] if j["exec"] in execs else None
        mine = [e for e in execs.values()
                if owner[e["id"]] == j["op"] and e["t0"] <= j["t0"]]
        if ex is None:  # the innermost execution of its op still running
            ex = max((e["id"] for e in mine if j["t0"] <= ends[e["id"]]),
                     key=lambda i: execs[i]["t0"], default=None)
        o = ops[j["op"]]
        if ex is not None:
            parent, mod = f"exec{ex}", exec_module(execs[ex], o, mods)
        else:
            parent, mod = f"op{j['op']}", module_of(j.get("stage_name"), mods)
            if mod == CLIENT:
                mod = o.get("plan_layer", "unattributed")
            if mod == "unattributed" and mine:
                # an RDD action over a Dataset's .rdd: charged to the module
                # of the op's latest execution (the one that built the RDD)
                last = max(mine, key=lambda e: e["t0"])
                mod = exec_module(last, o, mods)
        out.append({"id": f"job{j['id']}", "layer": "job", "module": mod,
                    "name": j.get("stage_name"), "t0": j["t0"],
                    "t1": jend[j["id"]]["t1"], "parent": parent, "op": j["op"],
                    "stages": j["stages"]})
    return out


def self_times(span_list):
    """Self time (ms) of every span: duration minus its children's cover."""
    kids = {}
    for s in span_list:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: self_ms((s["t0"], s["t1"]), kids.get(s["id"], []))
            for s in span_list}


# ---- metrics ---------------------------------------------------------------

def failed_ops(doc, extra_failed=()):
    """Ids of failed ops: thrown, or with a failed output check. A failed
    check tied to no op, and each failure during the warm-up, counts as a
    failed op of its own."""
    bad = {o["id"] for o in doc["ops"] if not o["ok"]}
    bad |= {f"warm{i}" for i in range(doc.get("warm_failed", 0))}
    bad |= {c["op"] if c["op"] >= 0 else f"check{i}"
            for i, c in enumerate(doc["checks"]) if not c["ok"]}
    bad |= set(extra_failed)
    return bad


def end_to_end(doc):
    """The untraced run's user-facing metrics: set-up time (session start
    and the one cold set-up) and work done per second. The median op
    latency is the per-layer `op.p50_s`; on a shared 4-vCPU host its
    run-to-run spread reached the 0.25 bound."""
    durs = [(o["t1"] - o["t0"]) / 1e3 for o in doc["ops"] if o["ok"]]
    return {
        "setup_s": doc["session_s"] + doc["setup_s"],
        "ops_per_s": len(durs) / sum(durs) if durs else 0.0,
    }


def per_layer(doc, mods):
    """The traced run's per-layer metrics (a fixed set for every workload)."""
    tr = doc["trace"]
    cores = doc["context"]["cpus"]
    sp = spans(doc, mods)
    selfs = self_times(sp)
    jobs = [s for s in sp if s["layer"] == "job"]
    stage_job = {st: j for j in jobs for st in j["stages"]}
    stages = [s for s in tr["stages"] if s["id"] in stage_job]
    ops = doc["ops"]
    out = {}

    for m in MODULES:
        mj = [j for j in jobs if j["module"] == m]
        mst = [s for s in stages if stage_job[s["id"]]["module"] == m]
        out[f"{m}.jobs"] = len(mj)
        out[f"{m}.job_s"] = sum(j["t1"] - j["t0"] for j in mj) / 1e3
        out[f"{m}.executor_cpu_s"] = sum(s["cpu_ns"] for s in mst) / 1e9
        out[f"{m}.self_s"] = sum(selfs[s["id"]] for s in sp if s["layer"] == "exec"
                                 and s["module"] == m) / 1e3

    job_iv = [(j["t0"], j["t1"]) for j in jobs]
    job_s = union_ms(job_iv) / 1e3
    cpu_s = sum(s["cpu_ns"] for s in stages) / 1e9
    multi = [s for s in stages if s["task_n"] >= 2 and s["task_sum_ms"] > 0]
    out.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.job_s": job_s,
        "spark.driver_gap_s": sum(
            (o["t1"] - o["t0"]) - union_ms(clip(job_iv, o["t0"], o["t1"]))
            for o in ops) / 1e3,
        "spark.executor_cpu_s": cpu_s,
        "spark.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "spark.cpu_util": cpu_s / (job_s * cores) if job_s else 0.0,
        "spark.single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "spark.task_skew_max": max((s["task_max_ms"] * s["task_n"] / s["task_sum_ms"]
                                    for s in multi), default=0.0),
        "fs.input_bytes": sum(s["in_bytes"] for s in stages),
        "fs.input_records": sum(s["in_records"] for s in stages),
        "fs.output_bytes": sum(s["out_bytes"] for s in stages),
        "fs.output_records": sum(s["out_records"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write"] for s in stages),
        "shuffle.spill_bytes": sum(s["spill"] for s in stages),
    })

    def in_op(t):
        return any(o["t0"] <= t <= o["t1"] for o in ops)
    qes = [q for q in tr["queries"] if in_op(q["t0"])]
    out.update({
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in qes) / 1e3,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in qes) / 1e3,
        "catalyst.planning_s": sum(q["planning_ms"] for q in qes) / 1e3,
        "catalyst.executions": len(qes),
    })

    layer_self = {}
    for s in sp:
        layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]]
    for layer in ("op", "exec", "job"):
        out[f"span.{layer}_self_s"] = layer_self.get(layer, 0.0) / 1e3

    durs = [(o["t1"] - o["t0"]) / 1e3 for o in ops if o["ok"]]
    reads = [(o["t1"] - o["t0"]) / 1e3 for o in ops if o["ok"] and o["kind"] == "read"]
    writes = [(o["t1"] - o["t0"]) / 1e3 for o in ops if o["ok"] and o["kind"] == "write"]
    out.update({
        "op.count": len(ops),
        "op.p50_s": median(durs),
        "op.read_p50_s": median(reads),
        "op.write_p50_s": median(writes),
        # the slowest commit: a manifest checkpoint's spike, which a
        # median over one pass's few writes does not see
        "op.write_max_s": max(writes, default=0.0),
        "queries.build_s": sum(o.get("build_s", 0.0) for o in ops),
        "jvm.gc_s": doc["gc_s"],
        "jvm.heap_peak_mb": doc["heap_peak_mb"],
    })

    wl = doc.get("workload", {})
    out["pipeline.events_per_s"] = (wl.get("events_committed", 0) / sum(durs)
                                    if durs else 0.0)
    out.update(store_metrics(doc, qes))
    return out


def store_metrics(doc, qes):
    """store.* metrics; zero on workloads without a snapshot table."""
    wl = doc.get("workload", {})
    manifests = wl.get("manifests", [])
    reads = [o for o in doc["ops"] if o["ok"] and o["kind"] == "read"]
    files_scanned = live = rows_scanned = 0
    for o in reads:
        live_at = [m["entries"] for m in manifests if m["t"] <= o["t0"]]
        if not live_at:
            continue
        # the op's last query is the read itself; the earlier ones scan
        # manifests
        last = max((q for q in qes if o["t0"] <= q["t0"] <= o["t1"]),
                   key=lambda q: q["t0"], default=None)
        if last is None:
            continue
        files_scanned += last["scan_files"]
        rows_scanned += last["scan_rows"]
        live += live_at[-1]
    rows_out = sum(o.get("rows", 0) for o in reads)
    return {
        "store.manifest_resolve_s": median([m["resolve_s"] for m in manifests]),
        "store.manifest_entries": median([m["entries"] for m in manifests]),
        "store.commits": wl.get("commits", 0),
        "store.files_read_ratio": files_scanned / live if live else 0.0,
        "store.rows_read_ratio": rows_out / rows_scanned if rows_scanned else 0.0,
        "store.table_bytes": wl.get("table_bytes", 0),
        "store.live_bytes": wl.get("live_bytes", 0),
        "store.space_amp": space_amp(wl.get("table_bytes", 0),
                                     wl.get("live_bytes", 0)),
    }
