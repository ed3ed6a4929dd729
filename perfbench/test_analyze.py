"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import analyze

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, start, end, layer="bench", name="op", codegen=0):
    return {"id": i, "parent": parent, "layer": layer, "name": name,
            "run": "t", "start": start, "end": end, "codegen": codegen}


def task(stage, launch, finish, run_ms, **kw):
    t = {"stage": stage, "launch": launch, "finish": finish, "ok": True,
         "run_ms": run_ms, "cpu_ms": run_ms / 2, "gc_ms": 0, "deser_ms": 1,
         "result_ser_ms": 0, "getting_ms": 0, "shuffle_write": 10,
         "shuffle_read": 10, "fetch_wait_ms": 0, "spill_mem": 0,
         "spill_disk": 0, "in_bytes": 0, "in_records": 0, "out_bytes": 5}
    t.update(kw)
    return t


def synthetic_result():
    """Two operations: an ingest trigger whose verbs overlap through Par,
    and a curation-style operator call; one lookup."""
    spans = [
        span(1, 0, 0, 100, name="ingest", codegen=2),
        span(2, 1, 10, 60, "streaming", "filter_batch"),
        span(3, 1, 40, 90, "streaming", "fold_batch"),
        span(4, 0, 100, 200, name="pass", codegen=1),
        span(5, 4, 110, 190, "operators", "minhash_pairs"),
        span(6, 0, 200, 210, name="lookup"),
        span(7, 6, 201, 209, "streaming", "lookup"),
    ]
    jobs = [{"id": 1, "span": 2, "sql": 7, "start": 12, "end": 50,
             "stages": [1]},
            {"id": 2, "span": 3, "sql": 8, "start": 30, "end": 80,
             "stages": [2]},
            {"id": 3, "span": 5, "sql": 9, "start": 120, "end": 180,
             "stages": [3]},
            {"id": 4, "span": 7, "sql": 10, "start": 202, "end": 208,
             "stages": [4]}]
    stages = [{"id": 1, "attempt": 0, "span": 2, "tasks": 1},
              {"id": 2, "attempt": 0, "span": 3, "tasks": 1},
              {"id": 3, "attempt": 0, "span": 5, "tasks": 4},
              {"id": 4, "attempt": 0, "span": 7, "tasks": 1}]
    tasks = [task(1, 12, 50, 30, in_records=100),
             task(2, 30, 80, 40)] + \
        [task(3, 120, 120 + d, d) for d in (10, 10, 10, 40)] + \
        [task(4, 202, 208, 5)]
    sqls = [{"id": q, "func": "collect", "start": s, "analysis_ms": 1.0,
             "optimization_ms": 2.0, "planning_ms": 3.0, "files_read": 1,
             "dur_ms": 5.0} for q, s in ((7, 11), (8, 29), (9, 119), (10, 201))]
    return {
        "workload": "store_lifecycle", "seed": 1, "cores": 4,
        "latency_kind": "ingest", "session_s": 1.0, "setup_s": [3.0, 2.0, 4.0],
        "warmup_s": 0.5, "inputs": [],
        "plain": {"ops": [{"kind": "ingest", "s": 0.1, "rows": 10,
                           "user_bytes": 100}],
                  "lookups": [0.01, 0.02], "checks": [], "attempted": 3,
                  "failed": 0},
        "traced": {"ops": [{"kind": "ingest", "s": 0.11, "rows": 10,
                            "user_bytes": 100},
                           {"kind": "pass", "s": 0.1, "rows": 10,
                            "user_bytes": 100}],
                   "lookups": [0.01], "checks": [], "attempted": 3,
                   "failed": 0},
        "plain_after": {"ops": [{"kind": "ingest", "s": 0.12, "rows": 10,
                                 "user_bytes": 100}],
                        "lookups": [], "checks": [], "attempted": 1,
                        "failed": 0},
        "trace": {"spans": spans, "jobs": jobs, "stages": stages,
                  "tasks": tasks, "sqls": sqls},
        "extra": {"store_bytes": [300, 500], "user_bytes": [100, 100],
                  "versions_visible": [2, 4], "verify_yield": [[10, 4]]},
        "peak_rss_kb": 2048,
    }


class TailTest(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        value, pct, n = analyze.tail(range(1, 20))
        self.assertEqual((value, pct, n), (19, None, 19))

    def test_median_is_the_only_tail_from_twenty_to_thirty_nine(self):
        for n in (20, 39):
            value, pct, _ = analyze.tail(range(1, n + 1))
            self.assertEqual(pct, 50.0)
            self.assertGreaterEqual(n - value, 10)

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, want in ((40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0),
                        (1000, 99.0), (10000, 99.9)):
            value, pct, got_n = analyze.tail(range(1, n + 1))
            self.assertEqual((pct, got_n), (want, n))
            # the samples are 1..n, so value == rank
            self.assertGreaterEqual(n - value, 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [float(x) for x in range(100)]
        self.assertEqual(analyze.tail(xs), analyze.tail(list(reversed(xs))))


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40, "core"),
                 span(3, 2, 20, 30, "sources")]
        self.assertEqual(analyze.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        # two verbs running at once on Par workers
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50, "streaming"),
                 span(3, 1, 30, 70, "streaming")]
        self.assertEqual(analyze.self_times(spans)[1], 40)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130, "streaming")]
        self.assertEqual(analyze.self_times(spans)[1], 90)

    def test_mean_concurrency(self):
        # one job alone for 10, two at once for 10
        self.assertAlmostEqual(
            analyze.mean_concurrency([(0, 20), (10, 20)], [(0, 100)]), 1.5)
        self.assertEqual(analyze.mean_concurrency([], [(0, 1)]), 0.0)


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.r = synthetic_result()

    def test_every_metric_name_is_well_formed(self):
        names = [m["name"] for m in self.spec["end_to_end"]] + \
            [m["name"] for m in self.spec["per_layer"]] + \
            [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, analyze.NAME_RE)

    def test_end_to_end_names_match_the_spec(self):
        got = analyze.end_to_end(self.r)
        self.assertEqual(set(got), {m["name"] for m in self.spec["end_to_end"]})
        for m in self.spec["end_to_end"]:
            self.assertEqual(got[m["name"]][1], m["unit"])

    def test_per_layer_names_match_the_spec(self):
        got = analyze.per_layer(self.r)
        self.assertEqual(set(got), {m["name"] for m in self.spec["per_layer"]})

    def test_end_to_end_values(self):
        e = analyze.end_to_end(self.r)
        self.assertEqual(e["setup_s"][0], 1.0 + 3.0 + 0.5)
        self.assertAlmostEqual(e["rows_per_s"][0], 100.0)
        self.assertAlmostEqual(e["lookup_s_p50"][0], 0.015)
        self.assertAlmostEqual(e["store_bytes_per_user_byte"][0], 4.0)
        self.assertEqual(analyze.report(self.r)["peak_rss_mb"]["value"], 2.0)

    def test_per_layer_values(self):
        m = analyze.per_layer(self.r)
        self.assertEqual(m["driver.jobs"], 1.5)          # 3 jobs, 2 ops
        self.assertEqual(m["driver.tasks"], 3.0)
        self.assertEqual(m["driver.sql_executions"], 1.5)
        self.assertEqual(m["driver.codegen_compiles"], 1.5)
        self.assertEqual(m["executor.task_skew"], 4.0)   # 40 / median 10
        self.assertEqual(m["sources.partitions"], 0.5)
        self.assertEqual(m["sources.rows_per_partition"], 100)
        # tasks cover 12..80 of the ingest and 120..160 of the pass
        self.assertEqual(m["driver.idle_gap_ms"], (32 + 60) / 2)
        self.assertEqual(m["operators.minhash_pairs.ms"], 40.0)
        self.assertEqual(m["operators.minhash_pairs.shuffle_bytes"], 20.0)
        self.assertAlmostEqual(m["operators.minhash_pairs.verify_yield"], 0.4)
        self.assertEqual(m["streaming.lookup.ms"], 8.0)  # per lookup
        self.assertEqual(m["streaming.lookup.jobs"], 1.0)
        self.assertEqual(m["streaming.fold_batch.jobs"], 0.5)
        # jobs 12..50 and 30..80 inside the verb spans overlap for 20 of 68
        self.assertAlmostEqual(m["core.par_overlap"], 88 / 68)
        # traced 0.11 against the mean of 0.10 before and 0.12 after
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.0)
        # overlapping spans of one layer each count their own self time
        self.assertAlmostEqual(m["wall_share.streaming"], 100 / 200)
        self.assertAlmostEqual(m["wall_share.bench"], 40 / 200)

    def test_dice_step(self):
        r = self.r
        t = r["trace"]
        t["spans"].append(span(8, 4, 192, 199, "core", "mapreduce_dice"))
        t["jobs"].append({"id": 5, "span": 8, "sql": -1, "start": 193,
                          "end": 198, "stages": [5]})
        t["stages"].append({"id": 5, "attempt": 0, "span": 8, "tasks": 2})
        t["tasks"] += [task(5, 193, 197, 2), task(5, 194, 198, 3)]
        m = analyze.per_layer(r)
        self.assertEqual(m["core.dice_tasks"], 1.0)       # 2 tasks, 2 ops
        self.assertEqual(m["core.dice_ms"], 3.5)
        self.assertEqual(m["core.mapreduce_ms"], 3.5)
        # task time 4 less 2 (or 3) running and 1 deserializing
        self.assertEqual(m["core.dice_scheduler_delay_ms"], 0.5)

    def test_dice_rate_uses_the_untraced_passes(self):
        self.r["extra"].update(dice_rows=100, dice_s=[0.5, 9.0, 9.0])
        got = analyze.report(self.r)["dice_rows_per_s"]
        self.assertEqual((got["value"], got["n"]), (200.0, 1))


if __name__ == "__main__":
    unittest.main()
