"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics as m  # noqa: E402
import oracle  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(m.reportable_percentile(2))
        self.assertIsNone(m.reportable_percentile(39))
        self.assertEqual(m.reportable_percentile(40), 75.0)
        self.assertEqual(m.reportable_percentile(100), 90.0)
        self.assertEqual(m.reportable_percentile(200), 95.0)
        self.assertEqual(m.reportable_percentile(1000), 99.0)
        self.assertEqual(m.reportable_percentile(10000), 99.9)

    def test_summary_states_count_and_true_median(self):
        s = m.summarize([4.0, 1.0, 3.0, 2.0])
        self.assertEqual(s, {"median": 2.5, "n": 4})

    def test_summary_adds_percentile_when_reportable(self):
        s = m.summarize([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertIn("p90", s)
        self.assertAlmostEqual(s["p90"], 90.1, places=6)
        self.assertNotIn("p95", s)


class Intervals(unittest.TestCase):
    def test_union_merges_overlap_nesting_and_touching(self):
        ivs = [(5, 7), (0, 2), (1, 3), (6, 6.5), (7, 8), (10, 11), (4, 4)]
        self.assertEqual(m.union_intervals(ivs), [(0, 3), (5, 8), (10, 11)])
        self.assertEqual(m.union_length(ivs), 3 + 3 + 1)

    def test_union_of_nothing(self):
        self.assertEqual(m.union_length([]), 0)

    def test_self_time_counts_only_covered_part_inside_span(self):
        # children stick out on both sides and overlap each other
        self.assertEqual(m.self_time((10, 20), [(5, 12), (11, 14), (18, 30)]),
                         10 - 4 - 2)
        self.assertEqual(m.self_time((0, 5), []), 5)
        self.assertEqual(m.self_time((0, 5), [(6, 9)]), 5)


class Skew(unittest.TestCase):
    def test_max_over_median(self):
        self.assertEqual(m.stage_skew([10, 10, 40]), 4.0)
        self.assertEqual(m.stage_skew([10, 20, 30, 40]), 40 / 25)

    def test_undefined_cases_are_one(self):
        self.assertEqual(m.stage_skew([50]), 1.0)
        self.assertEqual(m.stage_skew([0, 0, 5]), 1.0)


def _raw():
    """Two-query workload: a cold pass, a warm-up pass, a traced warm
    pass (pass 2) and two untraced ones (passes 3 and 4)."""
    passes, queries = [], []
    jobs, stages, plans = [], [], []
    t = 1000.0
    for idx, kind, traced, walls in [(0, "cold", False, (3000, 1000)),
                                     (1, "warmup", False, (1200, 500)),
                                     (2, "warm", True, (1000, 400)),
                                     (3, "warm", False, (1000, 400)),
                                     (4, "warm", False, (1200, 400))]:
        start = t
        for qi, w in enumerate(walls):
            q0 = t
            queries.append({"pass": idx, "kind": kind, "traced": traced,
                            "query": f"q{qi}", "ok": True, "start_ms": q0,
                            "build_end_ms": q0 + 0.2 * w, "end_ms": q0 + w,
                            "codegen_compiles": 5 if kind == "cold" else 0,
                            "codegen_ns": 2e8 if kind == "cold" else 0,
                            "cached_peak_bytes": 100 * qi,
                            "live_old_mb": 50.0 + idx + qi})
            if traced:
                # one job in the build, two overlapping jobs in the action
                jid = len(jobs)
                for s, e in [(0.05, 0.15), (0.3, 0.7), (0.5, 0.9)]:
                    sid = len(stages)
                    jobs.append({"id": jid, "start_ms": q0 + s * w,
                                 "end_ms": q0 + e * w,
                                 "query": m.query_tag(idx, f"q{qi}"),
                                 "stage_ids": [sid]})
                    stages.append({
                        "id": sid, "attempt": 0, "submit_ms": q0 + s * w,
                        "end_ms": q0 + e * w, "tasks": 4,
                        "tasks_failed": 0, "run_ms": 400, "cpu_ns": 3e8,
                        "gc_ms": 10, "spill_bytes": 0,
                        "peak_exec_mem": 2 ** 20,
                        "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
                        "shuffle_records_written": 1, "fetch_wait_ms": 0,
                        "input_bytes": 100, "input_rows": 10,
                        "task_run_ms": [100, 100, 100, 100]})
                    jid += 1
                plans.append({"func": "command", "duration_ns": 1,
                              "phases": {"analysis": {"start_ms": q0 + 1,
                                                      "end_ms": q0 + 2},
                                         "optimization": {"start_ms": q0 + 2,
                                                          "end_ms": q0 + 5},
                                         "planning": {"start_ms": q0 + 5,
                                                      "end_ms": q0 + 6}},
                              "write_files": 1, "write_bytes": 20})
            t += w + 100  # untimed hygiene between queries
        passes.append({"pass": idx, "kind": kind, "traced": traced,
                       "start_ms": start, "end_ms": t,
                       "wall_s": sum(walls) / 1e3})
    return {"cores": 4, "setup_s": 3.0, "passes": passes,
            "queries": queries, "jobs": jobs, "stages": stages,
            "plans": plans, "attempted": 10, "failed": 0, "errors": []}


class PassSeparation(unittest.TestCase):
    def test_cold_is_first_and_only(self):
        cold, warm = m.split_passes(_raw()["passes"])
        self.assertEqual(cold["pass"], 0)
        self.assertEqual([p["pass"] for p in warm], [2, 3, 4])

    def test_rejects_missing_or_late_cold_pass(self):
        passes = _raw()["passes"]
        with self.assertRaises(ValueError):
            m.split_passes(passes[1:])
        late = [dict(p, kind="warm") for p in passes[:1]] + \
            [dict(passes[1], kind="cold")] + passes[2:]
        with self.assertRaises(ValueError):
            m.split_passes(late)

    def test_end_to_end_keeps_cold_and_warmup_out_of_batch(self):
        v, batch = m.end_to_end(_raw(), 1000, [5.0, 3.0, 4.0], min_warm=3)
        self.assertEqual(v["cold_batch_s"], 4.0)
        # the untraced warm passes 3 and 4 only
        self.assertEqual(batch["n"], 2)
        self.assertAlmostEqual(v["batch_s"], 1.5)
        self.assertAlmostEqual(v["rows_per_s"], 1000 / v["batch_s"])
        self.assertEqual(v["setup_s"], 4.0)
        # q1's median reading over warm passes 2-4 (53, 54, 55)
        self.assertEqual(v["heap_live_peak_mb"], 54.0)

    def test_heap_peak_stops_at_min_warm(self):
        v, _ = m.end_to_end(_raw(), 1000, [1.0], min_warm=2)
        self.assertEqual(v["heap_live_peak_mb"], 53.5)

    def test_heap_peak_ignores_one_outlier_reading(self):
        raw = _raw()
        raw["queries"][-1]["live_old_mb"] = 500.0  # pass 4's q1
        v, _ = m.end_to_end(raw, 1000, [1.0], min_warm=3)
        self.assertEqual(v["heap_live_peak_mb"], 54.0)


class Layers(unittest.TestCase):
    def test_query_breakdown_tiles_the_wall(self):
        q = {"start_ms": 0.0, "build_end_ms": 200.0, "end_ms": 1000.0}
        b = m.query_breakdown(q, [(50, 150), (300, 700), (500, 900)])
        self.assertEqual(b["job_union_ms"], 100 + 600)
        self.assertEqual(b["build_self_ms"], 100)
        self.assertEqual(b["action_self_ms"], 200)
        self.assertEqual(b["driver_gap_ms"], 300)
        self.assertEqual(b["identity_err"], 0.0)

    def test_job_outside_its_query_breaks_the_identity(self):
        # a tagged job the listener clock puts 150 ms before the query
        q = {"start_ms": 1000.0, "build_end_ms": 1200.0, "end_ms": 2000.0}
        b = m.query_breakdown(q, [(850, 1150), (1300, 1700)])
        self.assertAlmostEqual(b["identity_err"], 0.15)
        self.assertEqual(m.identity_failures({"q": b}, 0),
                         ["q: identity error 0.150 > 0.1"])
        ok = m.query_breakdown(q, [(1050, 1150), (1300, 1700)])
        self.assertEqual(m.identity_failures({"q": ok}, 0), [])

    def test_traced_run_fails_on_misplaced_or_untagged_jobs(self):
        raw = _raw()
        self.assertEqual(m.per_layer(raw, 100, 1000)[2], [])
        # shift one of pass 2's q0 jobs 300 ms before the query starts
        q0 = next(q for q in raw["queries"]
                  if q["pass"] == 2 and q["query"] == "q0")
        job = next(j for j in raw["jobs"] if j["query"] == "2/q0")
        job["start_ms"] = q0["start_ms"] - 300
        fails = m.per_layer(raw, 100, 1000)[2]
        self.assertEqual(len(fails), 1)
        self.assertTrue(fails[0].startswith("pass 2 q0: identity error"))
        # a job in the pass window that no query tagged
        raw = _raw()
        raw["jobs"][-1]["query"] = ""
        v, _, fails = m.per_layer(raw, 100, 1000)
        self.assertEqual(v["trace.unattributed_jobs"], 1)
        self.assertEqual(len(fails), 1)
        self.assertIn("no query tag", fails[0])

    def test_per_layer_from_traced_pass(self):
        v, per_q, fails = m.per_layer(_raw(), input_rows=100,
                                      input_bytes=1000)
        self.assertEqual(fails, [])
        # traced pass 2: walls 1000 + 400 ms, three jobs per query
        self.assertEqual(v["scheduler.jobs"], 6)
        self.assertEqual(v["scheduler.tasks"], 24)
        self.assertAlmostEqual(v["scheduler.driver_gap_s"], 0.3 * 1.4)
        self.assertAlmostEqual(v["SparkEntry.build_s"], 0.2 * 1.4)
        self.assertAlmostEqual(v["executor.run_s"], 2.4)
        self.assertAlmostEqual(v["executor.busy_frac"], 2.4 / (1.4 * 4))
        self.assertEqual(v["executor.skew"], 1.0)
        self.assertEqual(v["catalyst.plans"], 2)
        self.assertAlmostEqual(v["catalyst.optimization_s"], 0.006)
        self.assertEqual(v["Tables.rows_read"], 60)
        self.assertEqual(v["Tables.rows_read_per_input_row"], 0.6)
        self.assertEqual(v["Sinks.files_written"], 2)
        self.assertEqual(v["codegen.cold_compiles"], 10)
        self.assertAlmostEqual(v["codegen.cold_compile_s"], 0.4)
        self.assertEqual(v["trace.cold_batch_s"], 4.0)
        self.assertEqual(v["CacheScope.cached_bytes_peak"], 100)
        # traced pass 2 (1.4 s) against untraced passes 3 and 4 (1.5 s)
        self.assertAlmostEqual(v["trace.overhead_frac"], 1.4 / 1.5 - 1)
        self.assertEqual(v["trace.unattributed_jobs"], 0)
        self.assertEqual(per_q["q0"]["jobs"], 3)
        self.assertEqual(v["trace.identity_err_max"], 0.0)

    def test_span_tree_and_self_time(self):
        sp = m.spans(_raw(), "wl")
        by_id = {s["id"]: s for s in sp}
        root = sp[0]
        self.assertIsNone(root["parent"])
        jobs = [s for s in sp if s["name"].startswith("job")]
        self.assertEqual(len(jobs), 6)
        for j in jobs:
            self.assertIn(by_id[j["parent"]]["name"], ("build", "action"))
        stages = [s for s in sp if s["name"].startswith("stage")]
        self.assertTrue(all(by_id[s["parent"]]["name"].startswith("job")
                            for s in stages))
        q0 = next(s for s in sp if s["name"] == "q0" and
                  by_id[s["parent"]]["name"] == "pass2.warm")
        self.assertEqual(q0["self_ms"], 0.0)  # build + action tile it
        action = next(s for s in sp if s["parent"] == q0["id"] and
                      s["name"] == "action")
        self.assertAlmostEqual(action["self_ms"], 200.0)


class OracleCompare(unittest.TestCase):
    def _check(self, got, want):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(got, os.path.join(d, "part-0.parquet"))
            return oracle.compare(d, want)

    def test_equal_up_to_row_order_and_column_case(self):
        got = pa.table({"B": [2.5, 1.0], "a": [2, 1]})
        want = pa.table({"a": [1, 2], "b": [1.0, 2.5]})
        self.assertIsNone(self._check(got, want))

    def test_negative_zero_and_types_are_differences(self):
        want = pa.table({"x": [0.0, 1.0]})
        self.assertIsNotNone(self._check(pa.table({"x": [-0.0, 1.0]}), want))
        self.assertIsNotNone(self._check(pa.table({"x": [0, 1]}), want))
        self.assertIsNotNone(self._check(pa.table({"x": [0.0, 2.0]}), want))

    def test_fast_path_never_looser_than_repr(self):
        a = pa.table({"x": [0.0, None], "l": [[0.0], [1.0]]})
        b = pa.table({"x": [0.0, None], "l": [[-0.0], [1.0]]})
        self.assertFalse(oracle._arrow_equal(a, b))
        self.assertFalse(oracle._arrow_equal(
            pa.table({"x": [-0.0]}), pa.table({"x": [0.0]})))
        # nested floats always take the repr path
        self.assertFalse(oracle._arrow_equal(a, a))
        self.assertTrue(oracle._arrow_equal(pa.table({"x": [2.0, 0.0]}),
                                            pa.table({"x": [0.0, 2.0]})))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            spec = {"events": {"rows": 500},
                    "documents": {"base_rows": 40, "replicas": 2}}
            gen.ensure_inputs(os.path.join(d, "a"), 7, spec)
            gen.ensure_inputs(os.path.join(d, "b"), 7, spec)
            gen.ensure_inputs(os.path.join(d, "c"), 8, spec)
            for t in spec:
                def read(x):
                    with open(os.path.join(d, x, f"{t}.parquet"), "rb") as f:
                        return f.read()
                self.assertEqual(read("a"), read("b"))
                self.assertNotEqual(read("a"), read("c"))

    def test_events_ids_disjoint(self):
        ev = gen.events(1, 1000)
        self.assertEqual(len(set(ev.column("event_id").to_pylist())), 1000)

    def test_replicas_disjoint_in_ids_and_shingles(self):
        docs = gen.documents(3, 60, replicas=3).to_pylist()
        self.assertEqual(len({d["doc_id"] for d in docs}), 180)

        def shingles(t):
            return {t[i:i + 12] for i in range(len(t) - 11)}
        by_rep = [set().union(*(shingles(d["text"]) for d in docs
                                if d["doc_id"] // gen.REPLICA_SPAN == k))
                  for k in range(3)]
        self.assertFalse(by_rep[0] & by_rep[1])
        self.assertFalse(by_rep[1] & by_rep[2])
        # a replica keeps lengths and the within-replica dup structure
        base = [d for d in docs if d["doc_id"] < gen.REPLICA_SPAN]
        rep = [d for d in docs if d["doc_id"] // gen.REPLICA_SPAN == 2]
        self.assertEqual([d["n_chars"] for d in base],
                         [d["n_chars"] for d in rep])
        self.assertEqual(sum(d["text"].endswith(" dup") for d in base), 3)


if __name__ == "__main__":
    unittest.main()
