"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402
import workloads  # noqa: E402


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def span(id, kind, start, end, parent, op="op"):
    return {"id": id, "kind": kind, "name": id, "start": start, "end": end,
            "parent": parent, "op": op}


def synthetic_result():
    """A small run: one cold and four warm (two traced) passes of two
    ops, with jobs, stages, phases and stream epochs."""
    passes, op_runs, jobs, stages, phases, epochs, started = [], [], [], [], [], [], []
    t = 1_000_000.0
    kinds = ["cold", "warm", "warm", "warm", "warm"]
    job_id = 0
    for i, kind in enumerate(kinds):
        traced = kind == "warm" and i % 2 == 1
        p0 = t
        for op in ("q1_agg", "q27_stream_e2e"):
            start, mid, end = t, t + 40, t + 100 + i
            op_runs.append({"op": op, "pass": i, "start": start, "build_end": mid,
                            "end": end, "error": None})
            run_id = f"run{i}{op}"
            if op.startswith("q27"):
                started.append({"run_id": run_id, "time": start + 5})
                epochs.append({"run_id": run_id, "batch_id": 0, "start": start + 10,
                               "duration_ms": {"triggerExecution": 25, "addBatch": 20,
                                               "walCommit": 2, "queryPlanning": 1},
                               "rows": 500, "state_rows": 7, "state_bytes": 2e6,
                               "state_commit_ms": 3})
                epochs.append({"run_id": run_id, "batch_id": 1, "start": start + 36,
                               "duration_ms": {"triggerExecution": 3}, "rows": 0,
                               "state_rows": 7, "state_bytes": 2e6, "state_commit_ms": 1})
            if traced:
                group = run_id if op.startswith("q27") else ""
                jobs.append({"id": job_id, "start": start + 12, "end": start + 30,
                             "group": group, "stage_ids": [2 * job_id, 2 * job_id + 1]})
                stages.append({"id": 2 * job_id, "attempt": 0, "submit": start + 13,
                               "complete": start + 29, "tasks": 4, "failed_tasks": 0,
                               "run_ms": 40, "cpu_ns": 30e6, "gc_ms": 1,
                               "shuffle_write_b": 1e6, "shuffle_read_b": 1e6,
                               "fetch_wait_ms": 2, "spill_b": 0, "input_b": 3e6,
                               "output_b": 0})
                phases.append({"execution": job_id, "phase": "planning",
                               "start": start + 41, "end": start + 45})
                job_id += 1
            t = end + 1
        passes.append({"index": i, "kind": kind, "traced": traced, "start": p0,
                       "end": t, "cpu_s": 0.5 + i / 10})
        t += 10
    return {"seed": 1, "cores": 4, "ops": ["q1_agg", "q27_stream_e2e"],
            "oracle_sql": {}, "setup_session_s": [5.0, 0.2, 0.3], "passes": passes,
            "op_runs": op_runs, "jobs": jobs, "stages": stages, "phases": phases,
            "queries_started": started, "epochs": epochs, "peak_rss_mb": 900.0,
            "log_errors": 0}


class PrinterTest(unittest.TestCase):
    def test_every_named_metric_is_printed_with_its_unit(self):
        bench = load_benchmark()
        result = synthetic_result()
        e2e, _ = metrics.end_to_end(result, [1.0, 1.1, 1.2], 0, 10)
        layer, _ = metrics.per_layer(result, 4)
        for section, values in (("end_to_end", e2e), ("per_layer", layer)):
            names = [m["name"] for m in bench[section]]
            line = json.loads(run.result_line(True, 10, 0, values, names))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(line["metrics"]), names)
            for m in bench[section]:
                got = line["metrics"][m["name"]]
                self.assertEqual(got["unit"], m["unit"], m["name"])
                self.assertIsInstance(got["value"], float)

    def test_end_to_end_values(self):
        result = synthetic_result()
        e2e, samples = metrics.end_to_end(result, [1.0, 1.1, 1.2], 1, 10)
        self.assertAlmostEqual(e2e["setup_s"], 1.5)  # median of 6.0, 1.3, 1.5
        self.assertAlmostEqual(e2e["error_rate"], 1 / 10)
        self.assertEqual(samples["passes"], 2)
        self.assertAlmostEqual(e2e["epoch_s.p50"], 0.025)
        self.assertEqual(e2e["peak_rss_mb"], 900.0)

    def test_op_latency_is_over_all_warm_op_runs(self):
        # untraced warm passes 2 and 4: q1_agg 0.1 s twice, q27 0.3 s and
        # 0.9 s. Over all runs the median is 0.2 s; a median of per-op
        # medians would read 0.35 s.
        result = synthetic_result()
        latency = {("q1_agg", 2): 100, ("q1_agg", 4): 100,
                   ("q27_stream_e2e", 2): 300, ("q27_stream_e2e", 4): 900}
        for r in result["op_runs"]:
            if (r["op"], r["pass"]) in latency:
                r["end"] = r["start"] + latency[(r["op"], r["pass"])]
        e2e, samples = metrics.end_to_end(result, [1.0, 1.1, 1.2], 0, 10)
        self.assertEqual(samples["op_s"], 4)
        self.assertAlmostEqual(e2e["op_s.p50"], 0.2)

    def test_tail_percentile_leaves_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(49))
        self.assertEqual(metrics.tail_percentile(50), 80)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span("op", "op", 0, 100, None),
                 span("b", "build", 0, 40, "op"),
                 span("f", "force", 40, 100, "op"),
                 span("j", "job", 50, 90, "f"),
                 span("s1", "stage", 55, 70, "j"),
                 span("s2", "stage", 60, 85, "j")]
        got = sp.self_times(spans)
        want = {"op": 0, "b": 40, "f": 20, "j": 10, "s1": 10, "s2": 20}
        for k, v in want.items():
            self.assertAlmostEqual(got.get(k, 0.0), v, msg=k)
        bad, table = sp.accounting(spans)
        self.assertEqual(bad, [])
        self.assertAlmostEqual(table["op"][1], 100)

    def test_gap_is_op_self_time(self):
        spans = [span("op", "op", 0, 100, None), span("b", "build", 10, 30, "op")]
        self.assertAlmostEqual(sp.self_times(spans)["op"], 80)

    def test_child_outside_its_parent_fails_the_accounting(self):
        spans = [span("op", "op", 0, 100, None),
                 span("f", "force", 0, 100, "op"),
                 span("j", "job", 50, 400, "f")]
        bad, table = sp.accounting(spans)
        self.assertEqual(bad, ["op"])
        self.assertAlmostEqual(table["op"][2], 300)

    def test_spans_of_a_run_account_for_op_wall(self):
        result = synthetic_result()
        traced = {p["index"] for p in result["passes"] if p["traced"]}
        spans = sp.build_spans(result, traced)
        kinds = {s["kind"] for s in spans}
        self.assertEqual(kinds, {"op", "build", "force", "trigger", "job", "stage"})
        bad, _ = sp.accounting(spans)
        self.assertEqual(bad, [])
        stream_job = next(s for s in spans if s["kind"] == "job"
                          and s["op"] == next(o["id"] for o in spans
                                              if o["kind"] == "op" and o["name"].startswith("q27")))
        self.assertTrue(stream_job["parent"].startswith("trigger"))


class OracleTest(unittest.TestCase):
    def test_fingerprint_ignores_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.2]})
        b = pd.DataFrame({"y": [0.2, 0.1], "x": [2, 1]})
        self.assertTrue(oracle.matches(oracle.fingerprint(a), oracle.fingerprint(b)))
        c = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.3]})
        self.assertFalse(oracle.matches(oracle.fingerprint(a), oracle.fingerprint(c)))

    def test_corrupted_digest_is_caught(self):
        import pandas as pd
        fp = oracle.fingerprint(pd.DataFrame({"x": [1]}))
        self.assertFalse(oracle.matches(oracle.corrupted(fp), fp))


class InputsTest(unittest.TestCase):
    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.dir = tempfile.mkdtemp()
        self.src = os.path.join(self.dir, "src")
        os.makedirs(self.src)
        pq.write_table(pa.table({"k": list(range(500)), "v": [str(i) for i in range(500)]}),
                       os.path.join(self.src, "t.parquet"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def read(self, d):
        import pyarrow.parquet as pq
        return pq.read_table(os.path.join(d, "t.parquet")).column("k").to_pylist()

    def test_same_seed_same_input_and_same_rows(self):
        import inputs
        a, b, c = (os.path.join(self.dir, n) for n in "abc")
        inputs.rewrite(self.src, a, 3)
        inputs.rewrite(self.src, b, 3)
        inputs.rewrite(self.src, c, 4)
        self.assertEqual(self.read(a), self.read(b))
        self.assertNotEqual(self.read(a), self.read(c))
        self.assertNotEqual(self.read(a), list(range(500)))
        self.assertEqual(inputs.check_same_rows(self.src, a), inputs.check_same_rows(self.src, c))

    def test_changed_rows_are_refused(self):
        import inputs
        import pyarrow as pa
        import pyarrow.parquet as pq
        a = os.path.join(self.dir, "a")
        inputs.rewrite(self.src, a, 3)
        pq.write_table(pa.table({"k": list(range(1, 501)), "v": [str(i) for i in range(500)]}),
                       os.path.join(a, "t.parquet"))
        with self.assertRaises(AssertionError):
            inputs.check_same_rows(self.src, a)


class FailFastTest(unittest.TestCase):
    def run_bench(self, cwd, *args):
        return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                              capture_output=True, text=True, timeout=60)

    def test_unknown_workload_fails_without_a_result(self):
        p = self.run_bench(ROOT, "--workload", "nope", "--seed", "1",
                           "--seconds", "1", "--trace", "0")
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")

    def test_without_the_program_it_fails(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            p = self.run_bench(d, "--workload", "pipelines", "--seed", "1",
                               "--seconds", "1", "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(d)

    def test_unknown_op_fails_fast(self):
        if not os.path.exists(run.CLASSPATH):
            self.skipTest("benchmark JVM code not built")
        with open(run.CLASSPATH) as f:
            cp = f.read().strip()
        p = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--ops", "no_such_op",
                            "--input", "x", "--out", "x", "--result", "x", "--seed", "1",
                            "--warmups", "1", "--passes", "1", "--trace", "0", "--cores", "1",
                            "--setups", "1"],
                           capture_output=True, text=True, timeout=60)
        self.assertEqual(p.returncode, 2)
        self.assertIn("no_such_op", p.stderr)


class BenchmarkFileTest(unittest.TestCase):
    def test_workloads_and_metrics_are_known(self):
        bench = load_benchmark()
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(workloads.WORKLOADS))
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertEqual(metrics.UNITS[m["name"]], m["unit"], m["name"])
        self.assertIn("setup_s", [m["name"] for m in bench["end_to_end"]])

    def test_pass_count_depends_on_run_length_only(self):
        self.assertEqual(workloads.measured_passes("pipelines", 12), 4)
        self.assertEqual(workloads.measured_passes("curation", 16), 3)
        self.assertEqual(workloads.measured_passes("curation", 1), 3)
        self.assertEqual(set(workloads.NOMINAL_PASS_S), set(workloads.WORKLOADS))
        self.assertEqual(set(workloads.WARMUP_PASSES), set(workloads.WORKLOADS))

    def test_families_cover_every_op(self):
        for ops in workloads.WORKLOADS.values():
            for op in ops:
                self.assertIn(workloads.family(op), workloads.FAMILIES)


if __name__ == "__main__":
    unittest.main()
