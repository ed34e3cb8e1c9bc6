"""Self-tests of the benchmark's own arithmetic, its oracle and its
comparison step. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import tempfile
import unittest

import compare
import eea
import layers
import oracle
import stats


class PercentileRule(unittest.TestCase):

    def test_min_samples_leave_ten_beyond(self):
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for p in (0.5, 0.75, 0.9):
            xs = list(range(stats.min_samples(p)))
            v = stats.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), stats.TAIL_SAMPLES)

    def test_too_few_samples_are_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 0.5)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(3).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.5), 50)


class SelfTime(unittest.TestCase):

    def test_span_minus_union_of_children(self):
        # children overlap (2-5 and 4-6) and one sticks out of the span
        self.assertEqual(stats.self_time((0, 10), [(2, 5), (4, 6), (9, 12)]), 5)

    def test_no_children(self):
        self.assertEqual(stats.self_time((1, 4), []), 3)

    def test_children_outside_do_not_count(self):
        self.assertEqual(stats.self_time((0, 10), [(11, 12), (-3, -1)]), 10)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)

    def test_attributed_share(self):
        out = {"spans": [{"name": "query.build", "t0": 0, "t1": 2},
                         {"name": "query.exec", "t0": 2, "t1": 9}]}
        ops = [{"t0": 0, "t1": 10}]
        self.assertAlmostEqual(layers.attributed_share(out, ops), 0.9)


class OracleFold(unittest.TestCase):
    T = eea.TOTAL_GAS

    def test_last_write_wins_in_file_order(self):
        rows = [["AT", "2030", "WEM", "1. Energy", self.T, "1.0"],
                ["AT", "2030", "WEM", "1. Energy", self.T, "2.5"]]
        state = eea.fold({}, rows)
        self.assertEqual(list(state.values()), [2.5])
        key = ("Austria", 2030, "WEM", "1. Energy", eea.CLEAN_GAS, eea.UNIT)
        self.assertIn(key, state)

    def test_reject_rules(self):
        rows = [["GB", "2030", "WEM", "1. Energy", self.T, "1.0"],          # P3 country
                ["AT", "2030", "WEM", "1. Energy", "CO2 (ktCO2)", "1.0"],  # P3 gas
                ["AT", "", "WEM", "1. Energy", self.T, "1.0"],             # P2
                ["AT", "2030", "WEM", "1. Energy", self.T, ""]]            # P2
        self.assertEqual(eea.fold({}, rows), {})

    def test_fold_continues_from_state(self):
        s = eea.fold({}, [["DE", "2040", "WAM", "5. Waste", self.T, "3.0"]])
        eea.fold(s, [["DE", "2040", "WAM", "5. Waste", self.T, "4.0"],
                     ["FR", "2040", "WAM", "5. Waste", self.T, "1.0"]])
        self.assertEqual(sorted(s.values()), [1.0, 4.0])

    def test_generated_files_replay_to_the_plan(self):
        with tempfile.TemporaryDirectory() as d:
            plan = eea.generate(d, seed=7, sub_codes=1, bulk_share=0.5,
                                rounds=1, deltas_per_round=2)
            state = {}
            for step in [plan["bulk"]] + plan["rounds"][0]:
                with open(f"{d}/{step['file']}") as f:
                    rows = [line.rstrip("\n").split(",") for line in f][1:]
                eea.fold(state, rows)
                lk = step["expect"]["lookups"][0]
                key = (lk["country"], lk["year"], lk["scenario"], lk["category"],
                       eea.CLEAN_GAS, eea.UNIT)
                self.assertEqual(state[key], lk["value"])
            self.assertEqual(step["expect"], eea.expected_readbacks(
                state, [(code, lk["year"], lk["scenario"], lk["category"])
                        for lk in step["expect"]["lookups"]
                        for code in [k for k, v in eea.COUNTRIES.items()
                                     if v == lk["country"]]]))

    def test_fingerprint_is_order_insensitive(self):
        a = [["x", "1"], ["y", "2"], ["z", "3"]]
        self.assertEqual(eea.fingerprint(a), eea.fingerprint(list(reversed(a))))
        self.assertNotEqual(eea.fingerprint(a), eea.fingerprint(a[:2] + [["z", "4"]]))


class OracleCompare(unittest.TestCase):

    def test_rounding_tie_passes_one_unit_in_the_last_place(self):
        # round(avg, 4) of exactly 0.05065: DuckDB 0.0506, Spark 0.0507
        self.assertTrue(oracle.same([("A", 0.0507)], [("A", 0.0506)]))
        self.assertTrue(oracle.same([("A", 12.35)], [("A", 12.34)]))

    def test_wider_differences_fail(self):
        self.assertFalse(oracle.same([("A", 0.0508)], [("A", 0.0506)]))
        self.assertFalse(oracle.same([("A", 0.05071234)], [("A", 0.05061234)]))
        self.assertFalse(oracle.same([("A", 1.0)], [("B", 1.0)]))

    def test_rows_pair_up_by_exact_cells(self):
        # float columns can sort first (columns are taken in name order)
        got = [(0.0507, "A"), (0.05065, "B")]
        want = [(0.05065, "B"), (0.0506, "A")]
        self.assertTrue(oracle.same(got, want))


class Compare(unittest.TestCase):

    @staticmethod
    def _report(d, name, nproc, value):
        r = {"workload": "w", "traced": False, "metrics": {"m": {"value": value}},
             "host": {"nproc": nproc, "spark_cores": nproc, "mem_total_mb": 16000}}
        with open(os.path.join(d, name), "w") as f:
            json.dump(r, f)
        return os.path.join(d, name)

    def test_refuses_different_core_counts(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = self._report(d, "a.json", 4, 1.0), self._report(d, "b.json", 8, 1.0)
            with self.assertRaises(SystemExit):
                compare.main([a, "--", b])

    def test_same_shape_compares(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = self._report(d, "a.json", 4, 1.0), self._report(d, "b.json", 4, 2.0)
            compare.main([a, "--", b])


if __name__ == "__main__":
    unittest.main()
