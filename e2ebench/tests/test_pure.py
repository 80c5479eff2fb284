"""Tests of the benchmark's pure parts. Run from the checkout root:

    python3 -m unittest discover -s e2ebench/tests
"""
import datetime as dt
import io
import sys
import unittest
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from benchlib import stats, txngen  # noqa: E402

DIMS = {"states": ["CA", "OR", "TX"], "cities": {"CA": ["Los Angeles"], "TX": ["Houston"]},
        "synonyms": ["clothing", "groceries", "rx"], "sol": {"CA": 3, "TX": 4}}
AS_OF = dt.date(2025, 6, 30)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = txngen.generate(7, 2000, AS_OF, DIMS)
        b = txngen.generate(7, 2000, AS_OF, DIMS)
        self.assertEqual(a[0], b[0])
        self.assertTrue(a[1].equals(b[1]))
        self.assertEqual(a[2], b[2])

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(txngen.generate(7, 2000, AS_OF, DIMS)[0],
                            txngen.generate(8, 2000, AS_OF, DIMS)[0])

    def test_clean_rows_are_the_well_formed_ones(self):
        csv, clean, st = txngen.generate(3, 5000, AS_OF, DIMS)
        self.assertEqual(st["rows"], st["kept"] + st["malformed"])
        self.assertEqual(len(clean), st["kept"])
        self.assertGreater(st["malformed"], 0)
        self.assertEqual(len(csv.splitlines()), st["rows"] + 1)
        self.assertTrue(set(clean["state"]) <= set(DIMS["states"] + txngen.UNKNOWN_STATES))

    def test_malformed_rows_are_not_clean(self):
        csv, clean, st = txngen.generate(3, 5000, AS_OF, DIMS)
        rows = pd.read_csv(io.StringIO(csv), dtype=str, keep_default_na=False)
        bad = rows[rows["amount"].isin(["12.3.4", ""]) | (rows["state"] == "")
                   | rows["transaction_date"].isin(["2024-13-40", ""])]
        self.assertEqual(len(bad), st["malformed"])
        self.assertFalse(set(bad["transaction_id"]) & set(clean["transaction_id"]))

    def test_tax_paid_always_parses(self):
        # a malformed tax_paid would hit a known readCsv defect in every
        # command that does not read it; the workload CSV never has one
        csv, _, _ = txngen.generate(3, 5000, AS_OF, DIMS)
        rows = pd.read_csv(io.StringIO(csv), dtype=str, keep_default_na=False)
        paid = rows.loc[rows["tax_paid"] != "", "tax_paid"]
        self.assertTrue(paid.str.fullmatch(r"\d+\.\d\d").all())

    def test_rows_on_both_sides_of_every_sol_cutoff(self):
        _, clean, _ = txngen.generate(5, 5000, AS_OF, DIMS)
        dates = clean.groupby("state")["transaction_date"].agg(set)
        for st in DIMS["states"] + txngen.UNKNOWN_STATES:
            cutoff = txngen.shift_years(AS_OF, DIMS["sol"].get(st, txngen.DEFAULT_SOL_YEARS))
            days = {d.date() for d in dates[st]}
            self.assertIn(cutoff - dt.timedelta(days=1), days, st)
            self.assertIn(cutoff, days, st)

    def test_shift_years_clamps_feb_29(self):
        self.assertEqual(txngen.shift_years(dt.date(2024, 2, 29), 1), dt.date(2023, 2, 28))


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 90)
        self.assertEqual(stats.tail_percentile(50), 80)
        self.assertEqual(stats.tail_percentile(30), 66)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start * 10**9, "end_ns": end * 10**9}

    def test_children_are_subtracted(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 1, 4), self.span(2, 0, 5, 6),
                 self.span(3, 1, 2, 3)]
        self.assertEqual(stats.self_times(spans), {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0})

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 2, 6), self.span(2, 0, 4, 8)]
        self.assertEqual(stats.self_times(spans)[0], 4.0)


if __name__ == "__main__":
    unittest.main()
