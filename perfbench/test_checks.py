#!/usr/bin/env python3
"""Self-test of the benchmark's checks: each must fail on a deliberately
wrong input and pass on the right one.

    python3 perfbench/test_checks.py
"""
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
import checks  # noqa: E402


def events_frame():
    return pd.DataFrame(
        {
            "event_id": list(range(10)),
            "user_id": [i % 3 for i in range(10)],
            "event_type": ["click", "view"] * 5,
            "value": [1.25, 2.5, 0.1, 3.75, 10.0, 0.2, 7.5, 1.0, 0.3, 4.4],
        }
    )


class QueryResultChecks(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.register("events", events_frame())
        self.sql = "SELECT event_type, count(*) AS n, sum(event_id) AS s FROM events GROUP BY event_type"
        self.want = self.con.execute(self.sql).df()

    def test_matching_result_passes(self):
        self.assertEqual(checks.compare_rows("q", self.want.copy(), self.want), [])

    def test_row_dropped_fails(self):
        got = self.want.iloc[1:].copy()
        self.assertTrue(checks.compare_rows("q", got, self.want))

    def test_value_perturbed_fails(self):
        got = self.want.copy()
        got.loc[0, "s"] = got.loc[0, "s"] + 1
        self.assertTrue(checks.compare_rows("q", got, self.want))

    def test_empty_result_fails(self):
        empty = self.want.iloc[0:0]
        self.assertTrue(checks.compare_rows("q", empty.copy(), empty))


class SketchChecks(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        n = 2000
        self.con.register(
            "lineitem",
            pd.DataFrame(
                {
                    "l_returnflag": ["A", "N"] * (n // 2),
                    "l_partkey": [i % 700 for i in range(n)],
                    "l_orderkey": [i // 3 for i in range(n)],
                    "l_extendedprice": [float(i) for i in range(n)],
                    "l_quantity": [float(i % 50 + 1) for i in range(n)],
                }
            ),
        )
        self.exact = self.con.execute(
            "SELECT l_returnflag, count(DISTINCT l_partkey) AS p, count(DISTINCT l_orderkey) AS o, "
            "quantile_cont(l_extendedprice, 0.5) AS m, quantile_cont(l_extendedprice, 0.95) AS h, "
            "quantile_cont(l_quantity, 0.5) AS q FROM lineitem GROUP BY l_returnflag ORDER BY 1"
        ).df()

    def distinct(self, scale):
        return pd.DataFrame(
            {
                "l_returnflag": self.exact["l_returnflag"],
                "approx_parts": (self.exact["p"] * scale).round(),
                "approx_orders": self.exact["o"],
            }
        )

    def test_distinct_within_bound_passes(self):
        self.assertEqual(checks.check_sketch("q_approx_distinct", self.distinct(1.01), self.con), [])

    def test_distinct_beyond_bound_fails(self):
        self.assertTrue(checks.check_sketch("q_approx_distinct", self.distinct(1.2), self.con))

    def percentile(self, shift):
        return pd.DataFrame(
            {
                "l_returnflag": self.exact["l_returnflag"],
                "ap50": self.exact["m"] + shift,
                "ap95": self.exact["h"],
                "ap50_qty": self.exact["q"],
            }
        )

    def test_percentile_within_rank_error_passes(self):
        self.assertEqual(checks.check_sketch("q_approx_percentile", self.percentile(1.0), self.con), [])

    def test_percentile_off_rank_fails(self):
        self.assertTrue(checks.check_sketch("q_approx_percentile", self.percentile(300.0), self.con))


class IngestChecks(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.events = events_frame()
        self.con.register("events", self.events)
        self.injected = [3, 7]
        self.landed = self.events[~self.events["event_id"].isin(self.injected)].reset_index(drop=True)

    def test_exact_landing_passes(self):
        self.assertEqual(checks.check_landing(self.landed, range(10), self.injected), [])
        self.assertEqual(checks.check_type_totals(self.landed, self.con, 10, self.injected), [])
        self.assertEqual(checks.check_dropped(2, len(self.injected)), [])

    def test_event_landed_twice_fails(self):
        twice = pd.concat([self.landed, self.landed.iloc[[0]]], ignore_index=True)
        self.assertTrue(checks.check_landing(twice, range(10), self.injected))
        self.assertTrue(checks.check_type_totals(twice, self.con, 10, self.injected))

    def test_malformed_payload_counted_as_landed_fails(self):
        wrong = self.events[self.events["event_id"] != 3].reset_index(drop=True)
        self.assertTrue(checks.check_landing(wrong, range(10), self.injected))
        self.assertTrue(checks.check_type_totals(wrong, self.con, 10, self.injected))
        self.assertTrue(checks.check_dropped(1, len(self.injected)))

    def test_value_perturbed_fails(self):
        wrong = self.landed.copy()
        wrong.loc[0, "value"] += 0.01
        self.assertTrue(checks.check_type_totals(wrong, self.con, 10, self.injected))

    def test_offsets(self):
        with tempfile.TemporaryDirectory() as d:
            log = Path(d) / "log"
            log.mkdir()
            (log / "partition-0.log").write_text("1\t{}\n5\t{}\n")
            (log / "partition-1.log").write_text("")
            ckpt = Path(d) / "ckpt"
            (ckpt / "offsets").mkdir(parents=True)
            (ckpt / "commits").mkdir()
            (ckpt / "offsets" / "0").write_text('v1\n{}\n{"0":1,"1":-1}\n')
            (ckpt / "offsets" / "1").write_text('v1\n{}\n{"0":5,"1":-1}\n')
            (ckpt / "commits" / "0").write_text("v1\n{}\n")
            last = checks.log_last_offsets(log)
            self.assertEqual(last, {0: 5, 1: -1})
            self.assertTrue(checks.check_offsets(checks.committed_offsets(ckpt), last))
            (ckpt / "commits" / "1").write_text("v1\n{}\n")
            self.assertEqual(checks.check_offsets(checks.committed_offsets(ckpt), last), [])


if __name__ == "__main__":
    unittest.main()
