"""Tests of the benchmark's own code: python3 -m unittest discover perfbench"""
import json
import os
import unittest

import analysis
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def span(sid, name, parent, start, end, run_id="pass1", **kw):
    """A span as the harness writes it; times in seconds."""
    s = {"id": sid, "name": name, "parent": parent, "run": run_id,
         "start_ns": int(start * 1e9), "end_ns": int(end * 1e9),
         "start_ms": int(start * 1e3), "end_ms": int(end * 1e3),
         "dur_s": end - start, "drain_s": 0.0, "gc_s": 0.0, "jobs": 0,
         "jobs_completed": 0, "stages": 0, "stages_completed": 0,
         "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
         "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
         "input_b": 0, "exchanges": 0, "topk_nodes": 0,
         "drain_timed_out": False, "job_intervals": [], "attrs": {}}
    s.update(kw)
    return s


class SeedDeterminism(unittest.TestCase):
    def test_corpus_is_a_function_of_the_seed(self):
        a_files, a_man = gen.corpus(7)
        b_files, b_man = gen.corpus(7)
        self.assertEqual(a_files, b_files)
        self.assertEqual(a_man, b_man)
        c_files, c_man = gen.corpus(8)
        self.assertNotEqual(a_man["input_sha256"], c_man["input_sha256"])
        # the size profile is shared: same total books for every seed
        self.assertEqual(a_man["books"], c_man["books"])

    def test_manifest_counts(self):
        files, man = gen.corpus(3)
        kinds = sorted(n.split(".", 1)[1] for n, _ in files)
        self.assertEqual(kinds.count("xml.gz"), gen.FILES_GZIPPED)
        self.assertEqual(kinds.count("xml"), gen.FILES - gen.FILES_GZIPPED)
        self.assertIn("zip", kinds)
        self.assertIn("tar.gz", kinds)
        self.assertEqual(man["inputs"], gen.FILES + gen.ARCHIVES)
        self.assertEqual(man["documents"],
                         gen.FILES + gen.ARCHIVES * gen.ARCHIVE_MEMBERS)
        self.assertEqual(man["outputs"]["order_00000.xml.parquet"],
                         (files[0][0], files[0][0]))
        self.assertEqual(man["outputs"]["shelf_01.order_001_002.xml.parquet"],
                         ("shelf_01.tar.gz", "order_001_002.xml"))

    def test_query_order_is_a_function_of_the_seed(self):
        table = run.load_costs()
        a = run.sample_queries(1, table)
        self.assertEqual(a, run.sample_queries(1, table))
        # the set is fixed; the seed decides the order
        self.assertNotEqual(a, run.sample_queries(2, table))
        self.assertEqual(sorted(a), sorted(run.sample_queries(2, table)))
        self.assertEqual(len(a), len(run.STRATA) - 1)
        self.assertEqual(len(set(a)), len(a))
        self.assertTrue(all(table["cost_s"][q] <= table["cap_s"] for q in a))


class SpanArithmetic(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(analysis.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(analysis.union_length([]), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(1, "query", 0, 0.0, 10.0),
                 span(2, "operators.build", 1, 1.0, 3.0),
                 span(3, "exec.run", 1, 2.0, 6.0, drain_s=1.0),
                 span(4, "inner", 3, 2.5, 3.5)]
        selfs = analysis.self_times(spans)
        # children cover 1..6 plus the exec drain to 7
        self.assertAlmostEqual(selfs[1], 4.0)
        self.assertAlmostEqual(selfs[2], 2.0)
        self.assertAlmostEqual(selfs[3], 3.0)
        self.assertAlmostEqual(selfs[4], 1.0)

    def test_driver_gap_is_wall_minus_job_union(self):
        spans = [span(1, "exec.run", 0, 0.0, 4.0, jobs=2,
                      job_intervals=[[500, 1500], [1000, 2000]],
                      task_run_s=3.0)]
        m = analysis.exec_counters(spans, spans, cores=2)
        self.assertAlmostEqual(m["exec.driver_gap_s"], 2.5)
        self.assertAlmostEqual(m["exec.core_busy_ratio"], 3.0 / 8.0)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def record(self):
        spans = [span(1, "session.start", 0, 0, 1, run_id="setup"),
                 span(2, "session.warmup", 0, 1, 2, run_id="setup"),
                 span(3, "query", 0, 2, 5, run_id="pass1"),
                 span(4, "exec.run", 3, 3, 5, run_id="pass1")]

        def p(index, traced, warmup, wall):
            return {"index": index, "traced": traced, "warmup": warmup,
                    "wall_s": wall, "cpu_s": wall / 2,
                    "latencies": {"q": wall}, "cpu": {"q": wall / 2}}
        return {"setup_s": [1.0], "peak_rss_mb": 100.0, "spans": spans,
                "passes": [p(0, False, True, 4.0), p(1, False, False, 2.0),
                           p(1, True, False, 3.0)]}

    def test_query_cost_is_the_mean_of_per_query_bests(self):
        rec = self.record()
        rec["passes"].append(dict(rec["passes"][1], index=2,
                                  latencies={"q": 4.0, "r": 1.0},
                                  cpu={"q": 0.5, "r": 1.0}))
        m, extra = run.end_to_end("query_mix", rec, {})
        # q: best of 2 and 4 (CPU: of 1 and 0.5); r: its one run
        self.assertAlmostEqual(extra["op_s"], (2.0 + 1.0) / 2)
        self.assertAlmostEqual(m["op_cpu_s"], (0.5 + 1.0) / 2)
        self.assertEqual(extra["query_total_s"], 3.0)
        self.assertEqual(extra["timed_passes"], 2)

    def test_trace_ratios_compare_with_untraced_passes(self):
        m = run.layer_metrics(self.record(), "query_mix", 0, 0)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.5)
        # exec.run is the only layer span: 2 s against 2 s untraced
        self.assertAlmostEqual(m["trace.accounted_ratio"], 1.0)

    def test_names_match_benchmark_json(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        layer = {m["name"] for m in self.bench["per_layer"]}
        for w in run.WORKLOADS:
            man = {"documents": 4, "xml_bytes": 100}
            m, _ = run.end_to_end(w, self.record(), man)
            self.assertEqual(set(m), e2e, w)
            self.assertEqual(set(run.layer_metrics(self.record(), w, 0, 0)), layer, w)
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
