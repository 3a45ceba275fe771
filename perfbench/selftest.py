#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py            # all, including the JVM guard test
    python3 perfbench/selftest.py --no-jvm   # skip the one test that builds

Covers: seeded generators (same seed -> byte-identical inputs, another
seed -> different ones), the tail-percentile rule, span self times, metric
names and the BENCHMARK.json contract, the output checks, and the
materialization guard in the client (a count()-timed action is caught).
"""
import filecmp
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in gen.GENERATORS:
            dirs = [os.path.join(SCRATCH, w, n) for n in ("a", "b", "c")]
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)
            pa = gen.generate(w, 5, dirs[0])
            pb = gen.generate(w, 5, dirs[1])
            gen.generate(w, 6, dirs[2])
            self.assertEqual(pa, pb, w)
            names = _files(dirs[0])
            self.assertTrue(names, w)
            self.assertEqual(names, _files(dirs[1]), w)
            _, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            same, _, errors = filecmp.cmpfiles(dirs[0], dirs[2], names, shallow=False)
            self.assertEqual((same, errors), ([], []), f"{w}: seed 6 repeated seed 5's files")

    def test_input_properties(self):
        for seed in (5, 6):
            p = gen.generate("near_dup", seed, os.path.join(SCRATCH, f"props_nd{seed}"))
            # the same number of planted copies under every seed
            self.assertEqual(p["planted_dup_rate"], gen.DOC_DUP_SHARE)
        self.assertEqual(len(p["doc_chars_quartiles"]), 3)
        p = gen.generate("reserve_mc", 5, os.path.join(SCRATCH, "props_rm"))
        self.assertTrue(0 < p["actuarial.strata"] <= 5 * 30)
        self.assertGreater(p["bytes"], 0)

    def test_expected_reserve_is_the_closed_form(self):
        # E[floor(Exp(mean m))] = 1/(e^{1/m}-1): 100/(e^{0.1}-1) for a
        # 10-year term, as in FIXTURES.md's worked example
        q = math.exp(-1 / 10)
        self.assertAlmostEqual(100 * q / (1 - q), 100 / (math.exp(0.1) - 1), places=9)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        t = stats.tail(xs)
        self.assertEqual(t["value"], 90)
        self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)
        self.assertAlmostEqual(t["pct"], 90.0)
        self.assertTrue(t["sufficient"])
        self.assertTrue(t["is_tail"])

    def test_unsorted_input_and_small_samples(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 11, 10])["value"], 1)
        t = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((t["value"], t["n"], t["sufficient"]), (1.0, 3, False))
        # 25 samples: p60, enough beyond it but not a tail
        t = stats.tail(range(25))
        self.assertEqual((t["pct"], t["sufficient"], t["is_tail"]), (60.0, True, False))
        self.assertIsNone(stats.tail([])["value"])

    def test_no_jump_across_the_threshold(self):
        self.assertEqual(stats.tail(list(range(10)))["value"], stats.tail(list(range(11)))["value"])


class SelfTimes(unittest.TestCase):
    def check_sum(self, spans):
        st = stats.self_times(spans)
        self.assertAlmostEqual(sum(st), spans[0][2] - spans[0][1])
        return st

    def test_nested(self):
        st = self.check_sum([("op", 0, 10), ("call", 0, 4), ("plan", 1, 2), ("job", 5, 9)])
        self.assertEqual(st, [2, 3, 1, 4])

    def test_overlapping_siblings_are_not_double_counted(self):
        st = self.check_sum([("op", 0, 10), ("job", 1, 6), ("job", 4, 8)])
        self.assertEqual(st, [3, 3, 4])

    def test_children_clipped_to_root(self):
        st = self.check_sum([("op", 0, 10), ("plan", -5, 2), ("job", 8, 20)])
        self.assertEqual(st, [6, 2, 2])


class Contract(unittest.TestCase):
    def setUp(self):
        self.b = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def test_keys_and_limits(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
            self.assertIn(w["name"], gen.GENERATORS)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_names_valid_unique_and_emitted(self):
        names = [w["name"] for w in self.b["workloads"]]
        names += [m["name"] for m in self.b["end_to_end"] + self.b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for bad in ("", ".x", "a b", "q/1", "x" * 65):
            self.assertFalse(stats.valid_name(bad), bad)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]}, run.PER_LAYER)


class Checks(unittest.TestCase):
    def test_lakehouse_model(self):
        m = check._Model()
        check._apply(m, "insert", "INSERT INTO {T} VALUES (1L, 'en', 10L), (2L, 'de', 20L)")
        check._apply(m, "merge", "MERGE INTO {T} t USING (SELECT * FROM VALUES "
                     "(1L, 'fr', 11L), (3L, 'zh', 30L) AS v(doc_id, lang, n_chars)) u ON ...")
        check._apply(m, "delete", "DELETE FROM {T} WHERE doc_id >= 2 AND doc_id < 3")
        self.assertEqual(m.rows, {1: ("en", 11), 3: ("zh", 30)})
        self.assertEqual(m.version, 3)
        self.assertEqual(check._expected(m, "asof", "SELECT doc_id, lang, n_chars FROM {T} "
                                         "VERSION AS OF 1 WHERE doc_id >= 0 AND doc_id < 9"),
                         [(1, "en", 10), (2, "de", 20)])
        self.assertEqual(check._expected(m, "point", "SELECT doc_id, lang, n_chars FROM {T} "
                                         "WHERE doc_id = 2"), [])

    def test_reserve_band(self):
        props = {"expected_reserve": 1000.0, "trial_variance": 1e6}
        ops = [{"i": 0, "layer": "actuarial.call", "ok": True, "value": 1050.0},
               {"i": 1, "layer": "actuarial.call", "ok": True, "value": 1070.0}]
        wrong, band = check.reserve_band(props, 10000, ops)
        self.assertEqual(band["half_width"], 60.0)
        self.assertEqual(list(wrong), [1])


class MaterializationGuard(unittest.TestCase):
    def test_count_is_caught(self):
        if "--no-jvm" in sys.argv:
            self.skipTest("--no-jvm")
        cp, _ = run.build(ROOT, os.path.join(ROOT, ".bench_build", "perfbench"))
        os.makedirs(SCRATCH, exist_ok=True)
        cmd = run.java_cmd(cp, SCRATCH) + ["perfbench.Main", "--selftest"]
        p = subprocess.run(cmd, cwd=SCRATCH, capture_output=True, text=True, timeout=170)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
        self.assertIn("materialization guard ok", p.stdout)


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--no-jvm"])
