"""Tests of bench_compare's control-floor readout on synthetic bench JSONs.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, TOOLS)

import bench_compare  # noqa: E402


def bench(queries):
    return {"metric": "bench", "value": sum(queries.values()), "queries": queries}


class ControlFloorTest(unittest.TestCase):
    def setUp(self):
        # the box is 20% slower on B for every query; q2 and q3 also
        # moved by their own code
        self.a = {"q1_a": 1.0, "q2_b": 2.0, "q3_c": 4.0, "q4_d": 1.0,
                  "q5_e": 2.0, "q6_f": 3.0, "q7_g": 5.0}
        self.b = {q: t * 1.2 for q, t in self.a.items()}
        self.b["q2_b"] = 2.0 * 1.2 * 0.5
        self.b["q3_c"] = 4.0 * 1.2 * 2.0

    def ratios(self):
        return {q: self.b[q] / self.a[q] for q in self.a}

    def test_touched_over_control_divides_out_the_box(self):
        cf = bench_compare.control_floor(self.ratios(), ["q2", "q3"])
        self.assertEqual((cf["n_touched"], cf["n_control"]), (2, 5))
        self.assertAlmostEqual(cf["control"], 1.2)
        self.assertAlmostEqual(cf["touched"], 1.2)  # sqrt(0.6 * 2.4)
        self.assertAlmostEqual(cf["touched_over_control"], 1.0)
        self.assertTrue(cf["in_band"])

    def test_a_touched_move_beyond_the_control_band_is_flagged(self):
        self.b["q2_b"] = 2.0 * 1.2  # only q3 moved beyond the box
        cf = bench_compare.control_floor(self.ratios(), ["q3"])
        self.assertAlmostEqual(cf["touched_over_control"], 2.0)
        self.assertFalse(cf["in_band"])

    def test_names_match_in_full_or_by_query_number_only(self):
        self.assertTrue(bench_compare.is_touched("q148_pagerank", ["q148"]))
        self.assertTrue(bench_compare.is_touched("q148_pagerank", ["q148_pagerank"]))
        self.assertFalse(bench_compare.is_touched("q1480_other", ["q148"]))

    def test_no_readout_without_controls(self):
        self.assertIsNone(bench_compare.control_floor(self.ratios(), list(self.a)))

    def test_cli_prints_the_control_floor(self):
        self.b["q2_b"] = 2.0 * 1.2
        with tempfile.TemporaryDirectory() as d:
            pa, pb = os.path.join(d, "a.json"), os.path.join(d, "b.json")
            for p, q in ((pa, self.a), (pb, self.b)):
                with open(p, "w") as f:
                    json.dump(bench(q), f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                bench_compare.main(pa, pb, 3, ["q3"])
        text = out.getvalue()
        self.assertIn("control n=6", text)
        self.assertIn("touched / control = 2.000", text)
        self.assertIn("OUTSIDE", text)


if __name__ == "__main__":
    unittest.main()
