"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py          # all, incl. tiny smoke runs
    python3 perfbench/selftest.py --fast   # skip the Spark smoke runs

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class Generators(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        import gen

        for w in gen.TINY:
            a = gen.generate(w, 5, gen.TINY[w])
            b = gen.generate(w, 5, gen.TINY[w])
            for name in a:
                self.assertTrue(a[name].equals(b[name]), (w, name))

    def test_other_seed_other_inputs(self):
        import gen

        for w in gen.TINY:
            a = gen.generate(w, 5, gen.TINY[w])
            b = gen.generate(w, 6, gen.TINY[w])
            first = next(iter(a))
            self.assertFalse(a[first].equals(b[first]), w)

    def test_any_integer_seed(self):
        import gen

        for seed in (0, 4_294_967_296, 123_456_789_012, -7):
            for w in gen.TINY:
                self.assertTrue(gen.generate(w, seed, gen.TINY[w]), (w, seed))

    def test_stratified_totals(self):
        import gen

        for seed in (1, 2):
            df = gen.gen_mixed(seed, 1000)
            self.assertEqual(len(df), 1000)
            self.assertEqual(int(df["text"].isna().sum()), 10)
            self.assertEqual(len(df.drop_duplicates(["conv_id", "turn_idx"])),
                             1000)


class Spec(unittest.TestCase):
    def setUp(self):
        with open("BENCHMARK.json") as fh:
            self.spec = json.load(fh)

    def test_names_and_units(self):
        seen = set()
        for section in ("workloads", "end_to_end", "per_layer"):
            for m in self.spec[section]:
                self.assertRegex(m["name"], NAME)
                self.assertNotIn(m["name"], seen)
                seen.add(m["name"])
                if "unit" in m:
                    self.assertRegex(m["unit"], UNIT)

    def test_per_layer_matches_code(self):
        from layers import per_layer_names

        self.assertEqual([m["name"] for m in self.spec["per_layer"]],
                         per_layer_names())

    def test_setup_metric(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(max(m["bound"] for m in e2e.values()),
                         e2e["setup_s"]["bound"])


class Checks(unittest.TestCase):
    def _turns(self):
        import pandas as pd

        exp = pd.DataFrame({"conv_id": ["a", "a", "b"], "turn_idx": [0, 1, 0],
                            "extracted_text": ["x", "y", ""],
                            "fmt": ["plaintext"] * 2 + ["empty"],
                            "status": ["ok", "ok", "skipped_empty"]})
        return exp, exp.copy()

    def test_clean_output_passes(self):
        from workloads import check_turns

        exp, got = self._turns()
        self.assertEqual(check_turns(exp, got)[:2], (3, 0))

    def test_bad_turn_is_counted(self):
        from workloads import check_turns

        exp, got = self._turns()
        got.loc[1, "extracted_text"] = "wrong"
        self.assertEqual(check_turns(exp, got)[1], 1)
        exp, got = self._turns()
        got.loc[0, "status"] = "error:ValueError:boom"
        self.assertEqual(check_turns(exp, got)[1], 1)
        exp, got = self._turns()
        self.assertEqual(check_turns(exp, got.iloc[:2])[1], 1)  # missing
        exp, got = self._turns()
        import pandas as pd
        self.assertEqual(check_turns(exp, pd.concat([got, got.iloc[:1]]))[1],
                         1)  # duplicated

    def test_wrong_query_hash_is_counted(self):
        from workloads import check_hashes

        want = {"q1": (3, "abc"), "q2": (1, "def")}
        self.assertEqual(check_hashes(want, [("q1", 3, "abc"),
                                             ("q2", 1, "def")]), 0)
        self.assertEqual(check_hashes(want, [("q1", 3, "abc"),
                                             ("q2", 1, "xxx")]), 1)
        self.assertEqual(check_hashes(want, [("q1", 2, "abc")]), 1)

    def test_bad_lookup_is_counted(self):
        import pandas as pd

        from workloads import ROW_COLS, check_lookups

        import datetime as dt

        row = {c: 1 for c in ROW_COLS}
        row.update(conv_id="a", turn_idx=0, extracted_text="x",
                   ts=pd.Timestamp("2026-01-01 00:00:07"))
        committed = pd.DataFrame([row])
        good = dict(row, ts=dt.datetime(2026, 1, 1, 0, 0, 7))  # collect()
        self.assertEqual(check_lookups(committed, [("a", 0, [good])]),
                         (1, 0))
        self.assertEqual(check_lookups(committed, [("a", 0, [])]), (1, 1))
        bad = dict(good, extracted_text="y")
        self.assertEqual(check_lookups(committed, [("a", 0, [bad])]), (1, 1))


class Spans(unittest.TestCase):
    def test_self_time_excludes_children(self):
        import time

        from spans import Tracer

        tr = Tracer()
        with tr.span("outer"):
            time.sleep(0.02)
            with tr.span("inner"):
                time.sleep(0.03)
        st = tr.self_times()
        self.assertAlmostEqual(st["outer"], 0.02, delta=0.015)
        self.assertAlmostEqual(st["inner"], 0.03, delta=0.015)

    def test_patch_restores(self):
        from bella_domify_spark.parsers.pdflike import glyphdoc, pipeline
        from spans import Tracer

        before = (glyphdoc.load_doc, pipeline.build_tree)
        with Tracer().patch():
            self.assertIsNot(glyphdoc.load_doc, before[0])
        self.assertEqual((glyphdoc.load_doc, pipeline.build_tree), before)


@unittest.skipIf("--fast" in sys.argv, "smoke runs skipped")
class Smoke(unittest.TestCase):
    def _run(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "3", "--seconds", "1", "--trace",
             str(trace), "--tiny"], capture_output=True, text=True,
            timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_each_workload(self):
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
        for w in spec["workloads"]:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    res = self._run(w["name"], trace)
                    self.assertEqual(set(res), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertEqual(set(res["metrics"]),
                                     {m["name"] for m in spec[section]})


if __name__ == "__main__":
    argv = [a for a in sys.argv if a != "--fast"]
    unittest.main(argv=argv)
