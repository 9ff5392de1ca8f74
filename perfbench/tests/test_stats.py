"""Tests of the benchmark's own arithmetic on synthetic inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
ROOT = os.path.dirname(os.path.dirname(HERE))

import run  # noqa: E402
from benchlib import gate, layers, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90.0, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99.0, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50.0, 10))

    def test_too_few_samples_report_the_median_and_the_count(self):
        self.assertEqual(stats.tail(list(range(1, 16))), (8, 50.0, 7))

    def test_nine_beyond_is_not_enough(self):
        # 99 samples: p90 has rank 90 and only 9 beyond, so p75 is used
        value, pct, beyond = stats.tail(list(range(1, 100)))
        self.assertEqual((pct, beyond), (75.0, 24))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # (10,30) and (20,50) overlap; (90,120) sticks out of the parent
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 50), (90, 120)]), 50)

    def test_nested_and_identical_children(self):
        self.assertEqual(stats.self_time((0, 10), [(2, 8), (3, 4), (2, 8)]), 4)

    def test_no_children(self):
        self.assertEqual(stats.self_time((5, 9), []), 4)

    def test_self_times_by_kind(self):
        spans = [
            {"id": 1, "parent": -1, "kind": "op", "start": 0, "end": 10 * 10**9},
            {"id": 2, "parent": 1, "kind": "build", "start": 0, "end": 4 * 10**9},
            {"id": 3, "parent": 1, "kind": "action", "start": 3 * 10**9, "end": 8 * 10**9},
        ]
        self.assertEqual(layers.self_times(spans), {"op": 2.0, "build": 4.0, "action": 5.0})


class FailedFrac(unittest.TestCase):
    def test_wrong_answer_is_a_failure(self):
        self.assertEqual(stats.failed_frac(["ok", "wrong", "ok", "error"]), 0.5)
        self.assertEqual(stats.failed_frac(["ok", "ok"]), 0.0)

    def test_query_with_a_result_the_oracle_rejects_counts_as_failed(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "pass", "start": 0, "end": 10, "attrs": {}},
            {"id": 2, "parent": 1, "kind": "op", "name": "q_ok", "start": 1, "end": 2,
             "attrs": {"hash": "a", "build_ns": 1, "action_ns": 1}},
            {"id": 3, "parent": 1, "kind": "op", "name": "q_wrong", "start": 3, "end": 4,
             "attrs": {"hash": "b", "build_ns": 1, "action_ns": 1}},
            {"id": 4, "parent": 1, "kind": "op", "name": "q_threw", "start": 5, "end": 6,
             "attrs": {"error": "boom"}},
        ]
        verdict = {("q_ok", "a"): None, ("q_wrong", "b"): "3 rows differ"}
        outcomes, wrong = run.query_outcomes(spans, verdict)
        self.assertEqual([o[2] for o in outcomes], ["ok", "wrong", "error"])
        self.assertEqual(stats.failed_frac([o[2] for o in outcomes]), 2 / 3)
        self.assertEqual(sorted(wrong), ["q_threw", "q_wrong"])


class Bases(unittest.TestCase):
    def test_busy_frac_is_run_time_over_slots_times_wall(self):
        self.assertEqual(stats.busy_frac(6.0, 4, 3.0), 0.5)
        self.assertEqual(stats.busy_frac(12.0, 4, 3.0), 1.0)
        with self.assertRaises(ValueError):
            stats.busy_frac(1.0, 4, 0.0)

    def test_write_amp_is_lake_bytes_over_input_event_bytes(self):
        self.assertEqual(stats.write_amp(300, 100), 3.0)
        self.assertEqual(stats.write_amp(300, 0), 0.0)

    def test_busy_frac_of_a_traced_pass(self):
        ns = 10**9
        spans = [
            {"id": 1, "parent": 0, "kind": "pass", "start": 0, "end": 2 * ns,
             "attrs": {"rdds_held": 1, "compiles": 3, "compile_ns": ns}},
            {"id": 2, "parent": 1, "kind": "stage", "start": ns // 2, "end": ns,
             "attrs": {"tasks": 4, "task_wall_ms": 4500, "run_ms": 4000, "cpu_ns": 3 * ns,
                       "gc_ms": 0, "shuffle_write": 0, "shuffle_write_ns": 0, "shuffle_read": 0,
                       "fetch_wait_ms": 0, "spill": 0, "input_bytes": 10,
                       "output_bytes": 50}},
        ]
        (m,) = layers.per_pass(spans, cpus=4, input_event_bytes=25)
        self.assertEqual(m["executor.busy_frac"], 4.0 / (4 * 2.0))
        self.assertEqual(m["scheduler.task_overhead_s"], 0.5)
        self.assertEqual(m["sources.write_amp"], 2.0)
        self.assertEqual(m["storage.blocks_left"], 1.0)


class GateDecoding(unittest.TestCase):
    def test_typed_values_decode_to_what_duckdb_returns(self):
        canon = gate.load_check_oracle(os.path.join(ROOT, "tools", "check_oracle.py"))
        row = [1, 0.1, {"$f": "NaN"}, {"$dec": "12.50"}, {"$date": 9131},
               {"$ts": 86_400_000_001}, [1.5, None], {"$struct": [["a", 1]]}, "x", None]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "q__abc.jsonl")
            with open(path, "w") as f:
                f.write(json.dumps({"query": "q", "columns": list("abcdefghij")}) + "\n")
                f.write(json.dumps(row) + "\n")
            name, cols, rows = gate.read_result(path)
        self.assertEqual(name, "q")
        duck = [(1, 0.1, float("nan"), decimal.Decimal("12.50"), datetime.date(1995, 1, 1),
                 datetime.datetime(1970, 1, 2, 0, 0, 0, 1), [1.5, None], {"a": 1}, "x", None)]
        self.assertEqual(canon(rows, cols), canon(duck, cols))

    def test_a_result_off_by_one_digit_is_rejected(self):
        canon = gate.load_check_oracle(os.path.join(ROOT, "tools", "check_oracle.py"))
        expect = {"q": {"columns": ["a", "b"],
                        "rows": [list(r) for r in canon([(1, 2.5), (2, 3.25)], ["a", "b"])]}}
        with tempfile.TemporaryDirectory() as d:
            for digest, second in (("good", 3.25), ("bad", 3.26)):
                with open(os.path.join(d, f"q__{digest}.jsonl"), "w") as f:
                    f.write(json.dumps({"query": "q", "columns": ["b", "a"]}) + "\n")
                    f.write(json.dumps([2.5, 1]) + "\n" + json.dumps([second, 2]) + "\n")
            verdict = gate.verdicts(d, expect, canon)
        self.assertIsNone(verdict[("q", "good")])
        self.assertIsNotNone(verdict[("q", "bad")])


if __name__ == "__main__":
    unittest.main()
