"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest perfbench/test_perfbench.py
"""
import collections
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertEqual(_files(a), _files(b))
                for f in _files(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                                os.path.join(b, f),
                                                shallow=False), f)
                self.assertFalse(filecmp.cmp(os.path.join(a, "plan.json"),
                                             os.path.join(c, "plan.json"),
                                             shallow=False))

    def test_ql_decks_keep_the_mix(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("ql_interactive", 3, t)
            with open(os.path.join(t, "plan.json")) as f:
                ops = json.load(f)["ops"]
        n = len(gen.QL_DECK)
        self.assertEqual(len(ops), n * gen.QL_DECKS)
        want = collections.Counter(gen.QL_DECK)
        for d in range(gen.QL_DECKS):
            deck = ops[d * n:(d + 1) * n]
            self.assertEqual(collections.Counter(o["kind"] for o in deck), want)
        reads = sum(k != "commit" for k in gen.QL_DECK)
        self.assertEqual(reads * 5, len(gen.QL_DECK) * 4)  # 4 in 5 reads


class TailTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_beyond(self):
        cases = {19: None, 20: 50.0, 24: 50.0, 25: 60.0, 34: 70.0, 40: 75.0,
                 50: 80.0, 99: 80.0, 100: 90.0, 200: 95.0, 1000: 99.0,
                 10000: 99.9}
        for n, p in cases.items():
            with self.subTest(n=n):
                self.assertEqual(run.tail_percentile(n), p)
                if p is not None:
                    self.assertGreaterEqual(round(n * (100 - p) / 100, 6), 10)

    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(run.percentile(xs, 0), 1.0)
        self.assertEqual(run.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(run.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(run.percentile(xs, 75), 3.25)


def _fake_result(workload, trace):
    kinds = {"ql_interactive": ["cone", "xmatch", "commit", "travel"],
             "survey_batch": ["import", "xmatch", "append", "objcat"]}[workload]
    ops = [{"kind": kinds[i % len(kinds)], "unit": i // 10, "s": 0.5 + i / 100,
            "rows": 100 + i, "traced": bool(trace) and i % 2 == 0,
            "ok": True}
           for i in range(40)]
    rep = {"session_s": 0.1, "preflight_s": 0.0, "layouts_s": 4.0,
           "layout_jobs": 9.0, "total_s": 4.2, "layout.objects_margin_s": 2.0}
    return {"ops": ops, "loop_s": 21.0, "setup_reps": [rep, rep, rep],
            "written_bytes": 3_000_000, "input_bytes": 2_000_000,
            "files_written": 120, "heap_peak_mb": 150.0, "failures": [],
            "layers": {"ql.query_s": 0.4, "trace.coverage": 0.97},
            "self_time_table": "table\n"}


class ResultLineTest(unittest.TestCase):
    def test_every_metric_printed_with_its_unit(self):
        spec = run.load_spec()
        for w in (x["name"] for x in spec["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    line = run.result_line(_fake_result(w, trace), spec, w, trace,
                                           0)
                    json.dumps(line)
                    self.assertEqual(set(line), {"correct", "attempted",
                                                 "failed", "metrics"})
                    self.assertTrue(line["correct"])
                    self.assertEqual(line["attempted"], 40)
                    got = line["metrics"]
                    self.assertEqual(list(got), [m["name"] for m in spec[key]])
                    for m in spec[key]:
                        self.assertEqual(got[m["name"]]["unit"], m["unit"])
                        self.assertIsInstance(got[m["name"]]["value"], float)

    def test_failures_are_counted(self):
        spec = run.load_spec()
        res = _fake_result("ql_interactive", 0)
        res["failures"] = [{"what": "check op 3 cone", "class": "WrongResult",
                            "message": "2 rows, expected 3"}]
        line = run.result_line(res, spec, "ql_interactive", 0, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)

    def test_spec_is_within_the_contract(self):
        spec = run.load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds",
                                     "workloads", "end_to_end", "per_layer"})
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertTrue(set(gen.GENERATORS) ==
                        {w["name"] for w in spec["workloads"]})


if __name__ == "__main__":
    unittest.main()
