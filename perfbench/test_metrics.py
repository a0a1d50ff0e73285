"""Tests of the benchmark's metric math on synthetic listener events.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import metrics


def job(i, t0, t1, op, exec_id=-1, stage_name=None, stages=()):
    return ({"id": i, "t0": t0, "exec": exec_id, "op": op,
             "stage_name": stage_name, "stages": list(stages)},
            {"id": i, "t1": t1, "ok": True})


def stage(i, tasks=4, cpu_ns=0, task_n=4, task_sum_ms=40, task_max_ms=10):
    return {"id": i, "tasks": tasks, "t0": 0, "t1": 0, "cpu_ns": cpu_ns,
            "run_ms": 0, "in_bytes": 0, "in_records": 0, "out_bytes": 0,
            "out_records": 0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0, "task_n": task_n, "task_sum_ms": task_sum_ms,
            "task_max_ms": task_max_ms}


def doc(ops, execs=(), jobs=(), stages=(), queries=(), scans=None):
    scans = scans or {}
    return {
        "context": {"cpus": 4}, "session_s": 2.0, "setup_s": 5.0,
        "ops": ops, "checks": [], "gc_s": 0.1, "heap_peak_mb": 100.0,
        "workload": {},
        "trace": {"execs": [{"id": e, "desc": d, "t0": t0,
                             "scans": scans.get(e, [])} for e, d, t0, _ in execs],
                  "exec_ends": [{"id": e, "t1": t1} for e, _, _, t1 in execs],
                  "jobs": [j for j, _ in jobs], "job_ends": [e for _, e in jobs],
                  "stages": list(stages), "queries": list(queries)}}


def op(i, t0, t1, name="op", kind="read", ok=True, **kw):
    return dict(id=i, name=name, kind=kind, t0=t0, t1=t1, ok=ok, **kw)


MODS = {"Snapshots.scala": "io.Snapshots", "Dq.scala": "dq",
        "Pipeline.scala": "pipeline", "DedupClusters.scala": "operators",
        "Harness.scala": "client"}


class LatencyTest(unittest.TestCase):
    def test_medians_and_slowest_write(self):
        ops = [op(0, 0, 100), op(1, 100, 300), op(2, 300, 340),
               op(3, 400, 1400, kind="write"), op(4, 1400, 1600, kind="write"),
               op(5, 1600, 4600, kind="write", ok=False)]
        m = metrics.per_layer(doc(ops), MODS)
        self.assertAlmostEqual(m["op.p50_s"], 0.2)
        self.assertAlmostEqual(m["op.read_p50_s"], 0.1)
        self.assertAlmostEqual(m["op.write_p50_s"], 0.6)
        # a failed op is no latency sample
        self.assertAlmostEqual(m["op.write_max_s"], 1.0)
        self.assertEqual(metrics.per_layer(doc([op(0, 0, 1)]), MODS)
                         ["op.write_max_s"], 0.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [job(1, 10, 40, op=0), job(2, 30, 50, op=0), job(3, 70, 80, op=0)]
        d = doc([op(0, 0, 100)], jobs=jobs)
        m = metrics.per_layer(d, MODS)
        # union of job intervals = 40 + 10 = 50 ms of a 100 ms op
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.050)
        self.assertAlmostEqual(m["spark.job_s"], 0.050)

    def test_self_time_subtracts_covered_part_only(self):
        self.assertEqual(metrics.self_ms((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)
        self.assertEqual(metrics.self_ms((0, 100), []), 100)


class AttributionTest(unittest.TestCase):
    def test_call_site_to_module(self):
        self.assertEqual(metrics.module_of("parquet at Snapshots.scala:1275", MODS),
                         "io.Snapshots")
        self.assertEqual(metrics.module_of("head at Dq.scala:59", MODS), "dq")
        self.assertEqual(metrics.module_of(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
            MODS), "unattributed")
        self.assertEqual(metrics.module_of(None, MODS), "unattributed")
        self.assertEqual(metrics.module_of("count at Other.scala:3", MODS),
                         "unattributed")

    def test_module_map_from_source_tree(self):
        with tempfile.TemporaryDirectory() as root:
            for rel in ["src/main/scala/graft/io/Snapshots.scala",
                        "src/main/scala/graft/dq/Anomaly.scala",
                        "src/main/scala/graft/Tables.scala",
                        "src/main/scala/graft/plans/X.scala",
                        "perfbench/harness/Harness.scala"]:
                os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
                open(os.path.join(root, rel), "w").close()
            m = metrics.module_map(root)
        self.assertEqual(m, {"Snapshots.scala": "io.Snapshots",
                             "Anomaly.scala": "dq", "Tables.scala": "other",
                             "X.scala": "other", "Harness.scala": "client"})

    def test_jobs_follow_execution_then_time(self):
        execs = [(0, "collect at Snapshots.scala:10", 5, 40),
                 (1, "rdd at DedupClusters.scala:125", 50, 60)]
        jobs = [job(1, 10, 20, op=0, exec_id=0, stages=[1]),
                # no execution id, inside execution 0: charged to it
                job(2, 25, 35, op=0, stages=[2]),
                # no execution id after execution 1 ended: its module
                job(3, 70, 80, op=0, stages=[3]),
                # plain RDD job with a call site of its own
                job(4, 82, 85, op=0, stage_name="count at Dq.scala:9", stages=[4])]
        d = doc([op(0, 0, 100)], execs=execs, jobs=jobs,
                stages=[stage(1, cpu_ns=10**9), stage(2), stage(3), stage(4)])
        m = metrics.per_layer(d, MODS)
        self.assertEqual(m["io.Snapshots.jobs"], 2)
        self.assertEqual(m["operators.jobs"], 1)
        self.assertEqual(m["dq.jobs"], 1)
        self.assertEqual(m["unattributed.jobs"], 0)
        self.assertAlmostEqual(m["io.Snapshots.executor_cpu_s"], 1.0)
        # execution 0 spans 35 ms, its jobs cover 20 of them
        self.assertAlmostEqual(m["io.Snapshots.self_s"], 0.015)

    def test_json_scan_is_charged_to_raw_events(self):
        # an eager checkpoint in the pipeline over the raw NDJSON reader
        execs = [(0, "localCheckpoint at Pipeline.scala:73", 5, 40),
                 (1, "collect at Pipeline.scala:85", 50, 60)]
        jobs = [job(1, 10, 30, op=0, exec_id=0), job(2, 52, 58, op=0, exec_id=1)]
        d = doc([op(0, 0, 100, kind="write")], execs=execs, jobs=jobs,
                scans={0: ["json"], 1: ["ExistingRDD"]})
        m = metrics.per_layer(d, MODS)
        self.assertEqual(m["io.RawEvents.jobs"], 1)
        self.assertAlmostEqual(m["io.RawEvents.job_s"], 0.020)
        self.assertAlmostEqual(m["io.RawEvents.self_s"], 0.015)
        self.assertEqual(m["pipeline.jobs"], 1)

    def test_client_actions_are_charged_to_the_plan_layer(self):
        execs = [(0, "parquet at Harness.scala:579", 5, 40),
                 (1, "head at Harness.scala:386", 105, 140),
                 (2, "head at Harness.scala:386", 205, 240)]
        jobs = [job(1, 10, 20, op=0, exec_id=0), job(2, 110, 120, op=1, exec_id=1),
                job(3, 210, 220, op=2, exec_id=2),
                # an RDD job with the harness's own call site
                job(4, 250, 260, op=2, stage_name="count at Harness.scala:9")]
        ops = [op(0, 0, 100, kind="query", plan_layer="queries"),
               op(1, 100, 200, plan_layer="io.Snapshots"), op(2, 200, 300)]
        m = metrics.per_layer(doc(ops, execs=execs, jobs=jobs), MODS)
        self.assertEqual(m["queries.jobs"], 1)
        self.assertEqual(m["io.Snapshots.jobs"], 1)
        self.assertAlmostEqual(m["io.Snapshots.self_s"], 0.025)
        # an op that names no plan layer leaves its client jobs unattributed
        self.assertEqual(m["unattributed.jobs"], 2)
        self.assertNotIn("client.jobs", m)

    def test_jobs_outside_ops_are_ignored(self):
        d = doc([op(0, 0, 10)], jobs=[job(1, 20, 30, op=-1)])
        self.assertEqual(metrics.per_layer(d, MODS)["spark.jobs"], 0)


class SpanTest(unittest.TestCase):
    def test_span_tree_and_self_times(self):
        execs = [(0, "head at Dq.scala:59", 10, 60)]
        jobs = [job(1, 20, 30, op=0, exec_id=0), job(2, 40, 50, op=0, exec_id=0)]
        sp = metrics.spans(doc([op(0, 0, 100)], execs=execs, jobs=jobs), MODS)
        by = {s["id"]: s for s in sp}
        self.assertEqual(by["exec0"]["parent"], "op0")
        self.assertEqual(by["job1"]["parent"], "exec0")
        st = metrics.self_times(sp)
        self.assertEqual(st["op0"], 50)
        self.assertEqual(st["exec0"], 30)
        self.assertEqual(st["job1"], 10)


class EndToEndTest(unittest.TestCase):
    def test_space_amp(self):
        self.assertAlmostEqual(metrics.space_amp(300, 100), 3.0)
        self.assertEqual(metrics.space_amp(300, 0), 0.0)

    def test_setup_is_session_plus_cold_setup(self):
        d = doc([op(0, 0, 1000), op(1, 1000, 3000), op(2, 3000, 3500, ok=False)])
        e = metrics.end_to_end(d)
        self.assertEqual(set(e), {"setup_s", "ops_per_s"})
        self.assertAlmostEqual(e["setup_s"], 2.0 + 5.0)
        self.assertAlmostEqual(e["ops_per_s"], 2 / 3.0)

    def test_store_ratios_use_each_read_last_query(self):
        d = doc([op(0, 100, 200, rows=50), op(1, 300, 400, kind="write")],
                queries=[{"t0": 110, "scan_files": 9, "scan_rows": 900,
                          "analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0},
                         {"t0": 150, "scan_files": 2, "scan_rows": 200,
                          "analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0}])
        d["workload"] = {"manifests": [{"t": 50, "resolve_s": 0.1, "entries": 8}],
                         "table_bytes": 300, "live_bytes": 100}
        m = metrics.per_layer(d, MODS)
        self.assertAlmostEqual(m["store.files_read_ratio"], 2 / 8)
        self.assertAlmostEqual(m["store.rows_read_ratio"], 50 / 200)
        self.assertAlmostEqual(m["store.space_amp"], 3.0)

    def test_failed_ops_count_checks(self):
        d = doc([op(0, 0, 1), op(1, 1, 2, ok=False), op(2, 2, 3)])
        d["checks"] = [{"op": 2, "ok": False, "what": "x"},
                       {"op": 0, "ok": True, "what": None}]
        self.assertEqual(metrics.failed_ops(d), {1, 2})
        d["checks"].append({"op": -1, "ok": False, "what": "audit rows"})
        self.assertEqual(len(metrics.failed_ops(d)), 3)
        d["warm_failed"] = 2
        self.assertEqual(len(metrics.failed_ops(d)), 5)


if __name__ == "__main__":
    unittest.main()
