"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s lakebench/tests
"""
import collections
import csv
import glob
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        root = cls.tmp.name
        cls.a = gen.generate(os.path.join(root, "a"), 11)
        cls.b = gen.generate(os.path.join(root, "b"), 11)
        cls.c = gen.generate(os.path.join(root, "c"), 12)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(gen.digest(self.a), gen.digest(self.b))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(gen.digest(self.a), gen.digest(self.c))
        for name in ("catalog/lineitem.parquet", "curation/documents.parquet",
                     "acon/cdc_1.parquet"):
            with open(os.path.join(self.a, name), "rb") as fa, \
                    open(os.path.join(self.c, name), "rb") as fc:
                self.assertNotEqual(fa.read(), fc.read(), name)

    def test_lineitem_key_is_unique(self):
        li = pd.read_parquet(os.path.join(self.a, "acon", "lineitem.parquet"))
        self.assertFalse(li.duplicated(["l_orderkey", "l_linenumber"]).any())

    def test_cdc_batches_repeat_keys_and_keep_ship_dates(self):
        li = pd.read_parquet(os.path.join(self.a, "acon", "lineitem.parquet"))
        ship = dict(zip(zip(li.l_orderkey, li.l_linenumber), li.l_shipdate))
        for b in range(1, gen.ACON_BATCHES + 1):
            cdc = pd.read_parquet(os.path.join(self.a, "acon", f"cdc_{b}.parquet"))
            self.assertTrue(cdc.duplicated(["l_orderkey", "l_linenumber"]).any())
            self.assertEqual(set(cdc.record_mode), {"I", "U", "D"})
            self.assertTrue(cdc.ext_ts.is_unique)
            for k, d in zip(zip(cdc.l_orderkey, cdc.l_linenumber), cdc.l_shipdate):
                if k in ship:
                    self.assertEqual(ship[k], d)

    def test_curation_copies_keep_structure_inside_a_copy(self):
        docs = pd.read_parquet(os.path.join(self.a, "curation", "documents.parquet"))
        n = gen.CURATION_DOCS
        self.assertEqual(len(docs), n * gen.CURATION_COPIES)
        first, second = docs.text[:n].tolist(), docs.text[n:2 * n].tolist()
        self.assertTrue(all(len(a.split()) == len(b.split()) for a, b in zip(first, second)))
        self.assertFalse(set(first[0].split()) & set(second[0].split()))


class CdcMixTest(unittest.TestCase):
    """The generator's CDC mix is the one the reference's record_mode_cdc
    scenarios show."""
    SCENARIOS = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "src", "test", "resources", "delta_load", "record_mode_cdc")
    MODE = {"N": "I", "": "U", "D": "D", "R": "D"}

    def test_mix_matches_reference_scenarios(self):
        if not os.path.isdir(self.SCENARIOS):
            self.skipTest("reference scenarios not present")
        modes, years_live, years_changed = collections.Counter(), collections.Counter(), \
            collections.Counter()
        changed = repeated = 0
        for scenario in sorted(os.listdir(self.SCENARIOS)):
            parts = sorted(glob.glob(os.path.join(self.SCENARIOS, scenario, "source", "part-*.csv")))
            if not parts:
                continue
            batches = []
            for p in parts:
                with open(p) as f:
                    batches.append(list(csv.DictReader(f, delimiter="|")))
            year = {(r["salesorder"], r["item"]): r["date"][:4] for r in batches[0] if r["date"]}
            years_live.update(year.values())
            for batch in batches[1:]:
                rows = [((r["salesorder"], r["item"]), self.MODE[r["recordmode"]])
                        for r in batch if r["recordmode"] != "X"]
                modes.update(m for _, m in rows)
                per_key = collections.Counter(k for k, _ in rows)
                changed += len(per_key)
                repeated += sum(1 for n in per_key.values() if n > 1)
                first = {}
                for k, m in rows:
                    first.setdefault(k, m)
                years_changed.update(year[k] for k, m in first.items() if k in year and m != "I")
        self.assertEqual(dict(modes), gen.CDC_MODES)
        self.assertEqual((repeated, changed), gen.CDC_REPEATS)
        (old, new) = sorted(years_live)
        self.assertAlmostEqual(
            (years_changed[old] / years_live[old]) / (years_changed[new] / years_live[new]),
            gen.CDC_YEAR_BACK)

    def test_batches_follow_the_mix(self):
        base, batches = gen.acon_inputs(3, gen.ACON_SF)
        n_change = int(gen.ACON_BATCH_SHARE * len(base["l_orderkey"]))
        for b in batches:
            modes = collections.Counter(b["record_mode"])
            self.assertAlmostEqual(modes["I"] / n_change, 14 / 95, delta=0.05)
            keys = collections.Counter(zip(b["l_orderkey"].to_pylist(), b["l_linenumber"].to_pylist()))
            self.assertAlmostEqual(sum(n > 1 for n in keys.values()) / len(keys), 8 / 87, delta=0.02)


class MetricsTest(unittest.TestCase):
    def test_percentile_matches_linear_interpolation(self):
        rng = np.random.default_rng(0)
        for n in (1, 2, 5, 17, 100):
            xs = rng.random(n).tolist()
            for p in (0, 25, 50, 90, 99, 100):
                self.assertAlmostEqual(metrics.percentile(xs, p), float(np.percentile(xs, p)))
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)

    def test_tail_level_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_level(19))
        self.assertEqual(metrics.tail_level(20), 50)
        self.assertEqual(metrics.tail_level(40), 75)
        self.assertEqual(metrics.tail_level(100), 90)
        self.assertEqual(metrics.tail_level(1000), 99)

    def test_end_to_end(self):
        result = {
            "setup_s": 3.0,
            "timed_counters": {"input_records": 600},
            "samples": [
                {"op": "a", "iteration": 0, "seconds": 1.0},
                {"op": "b", "iteration": 0, "seconds": 4.0},
                {"op": "a", "iteration": 1, "seconds": 1.0},
                {"op": "b", "iteration": 1, "seconds": 6.0},
            ],
        }
        m = metrics.end_to_end(result)
        self.assertEqual(m["wall_s"], 6.0)
        self.assertAlmostEqual(m["op_geomean_s"], 5.0 ** 0.5)
        self.assertEqual(metrics.rows_per_s(result), 50.0)


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.tables = os.path.join(root, "tables")
        self.out = os.path.join(root, "out")
        os.makedirs(self.tables)
        os.makedirs(os.path.join(self.out, "q_sum"))
        pd.DataFrame({"k": [1, 1, 2], "v": [1.5, 2.5, 4.0]}).to_parquet(
            os.path.join(self.tables, "t.parquet"))
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            f.write('{"q_sum": "SELECT k, sum(v) AS s FROM t GROUP BY k ORDER BY k"}')

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, rows):
        pd.DataFrame(rows).to_parquet(os.path.join(self.out, "q_sum", "part-0.parquet"))
        return check.check_queries(self.tables, self.out, os.path.join(self.tmp.name, "cache"))

    def test_matching_output_passes(self):
        self.assertEqual(self.run_check({"s": [4.0, 4.0], "k": [2, 1]}), (1, []))

    def test_perturbed_output_is_a_wrong_result(self):
        checked, wrong = self.run_check({"k": [1, 2], "s": [4.0, 4.000001]})
        self.assertEqual((checked, len(wrong)), (1, 1))
        self.assertIn("q_sum", wrong[0])

    def test_missing_row_is_a_wrong_result(self):
        self.assertEqual(len(self.run_check({"k": [1], "s": [4.0]})[1]), 1)


class CompareTest(unittest.TestCase):
    def record(self, **identity):
        base = {"workload": "catalog_sf01", "seed": 1, "inputs_digest": "x", "cores": 4,
                "heap_mb": 3072, "forcing": "noop", "seconds": 10, "trace": False,
                "spark": "4.1.2", "java": "17", "commit": "a"}
        base.update(identity)
        return {"identity": base, "end_to_end": {"wall_s": {"value": 2.0, "unit": "s"}}}

    def test_records_of_two_programs_compare(self):
        a, b = self.record(), self.record(commit="b")
        self.assertEqual(compare.identity_mismatch(a, b), [])
        self.assertEqual(compare.compare(a, b)[0][-1], 1.0)

    def test_traced_records_compare_jobs_per_operation(self):
        a, b = self.record(), self.record(commit="b")
        a["ops"] = {"q1": {"jobs": 5}, "q2": {"jobs": 3}}
        b["ops"] = {"q1": {"jobs": 4}}
        self.assertEqual(compare.op_jobs(a, b), [("q1", 5, 4)])

    def test_records_measuring_different_things_are_refused(self):
        a = self.record()
        for change in ({"forcing": "count"}, {"cores": 8}, {"inputs_digest": "y"},
                       {"seed": 2}, {"heap_mb": 8192}):
            self.assertEqual(compare.identity_mismatch(a, self.record(**change)), list(change))


if __name__ == "__main__":
    unittest.main()
