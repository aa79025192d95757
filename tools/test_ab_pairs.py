"""Tests of ab_pairs' verdict logic on canned result lines (no JVM needed).

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

import ab_pairs  # noqa: E402

RATE = {"name": "rate_per_s", "unit": "1/s", "better": "higher", "bound": 0.25}
CPU = {"name": "cpu_s", "unit": "s", "better": "lower", "bound": 0.25}


def traced_line(side, seed, get_batch_ms, jobs, tasks):
    return {"workload": "users_to_topic", "pair": seed, "seed": seed, "side": side,
            "trace": 1,
            "result": {"correct": True, "attempted": 100, "failed": 0, "metrics": {
                "sources.get_batch_ms": {"value": get_batch_ms, "unit": "ms"},
                "exec.jobs": {"value": jobs, "unit": "count"},
                "exec.tasks": {"value": tasks, "unit": "count"}}}}


def line(side, seed, rate, cpu, correct=True):
    return {"workload": "cdc_to_table", "pair": seed, "seed": seed, "side": side,
            "result": {"correct": correct, "attempted": 100, "failed": 0, "metrics": {
                "rate_per_s": {"value": rate, "unit": "1/s"},
                "cpu_s": {"value": cpu, "unit": "s"}}}}


class VerdictTest(unittest.TestCase):
    def test_gain_needs_nine_tenths_of_pairs_and_a_median_step_beyond_the_parent_iqr(self):
        parent = [100, 102, 98, 101, 99, 103, 97, 100, 101, 99]
        self.assertEqual(ab_pairs.verdict(parent, [x + 20 for x in parent], "higher", 0.25),
                         ("gain", 10))
        # 8 of 10 wins is not enough, however large the step
        change = [x + 20 for x in parent[:8]] + [x - 1 for x in parent[8:]]
        self.assertEqual(ab_pairs.verdict(parent, change, "higher", 0.25),
                         ("no regression", 8))
        # every pair won, but by less than the parent's Q3 - Q1
        self.assertEqual(ab_pairs.verdict(parent, [x + 1 for x in parent], "higher", 0.25)[0],
                         "no regression")

    def test_fewer_than_ten_pairs_never_claim_a_gain(self):
        self.assertEqual(ab_pairs.verdict([100, 101], [150, 151], "higher", 0.25),
                         ("no regression", 2))

    def test_lower_is_better_metrics_win_by_falling(self):
        parent = [20.0, 21.0, 19.5, 20.5, 20.0, 19.0, 21.5, 20.0, 20.2, 19.8]
        self.assertEqual(ab_pairs.verdict(parent, [x * 0.8 for x in parent], "lower", 0.25),
                         ("gain", 10))
        self.assertEqual(ab_pairs.verdict(parent, [x * 1.4 for x in parent], "lower", 0.25),
                         ("regression", 0))

    def test_wide_spread_is_unresolved_unless_every_change_run_is_better(self):
        parent = [50, 150, 60, 140, 100, 55, 145, 90, 110, 100]
        change = [100, 100, 100, 100, 100, 100, 100, 100, 100, 100]
        self.assertEqual(ab_pairs.verdict(parent, change, "higher", 0.25)[0], "unresolved")
        self.assertEqual(ab_pairs.verdict(parent, [x + 200 for x in change], "higher", 0.25)[0],
                         "gain")
        self.assertEqual(ab_pairs.verdict(change, [x + 60 for x in change], "higher", 0.25)[0],
                         "gain")

    def test_ties_count_for_neither_side(self):
        self.assertEqual(ab_pairs.verdict([10, 20, 30], [10, 20, 40], "higher", 0.25)[1], 1)

    def test_summary_pairs_runs_by_seed_and_counts_incorrect_runs(self):
        lines = [line("parent", s, 2400 + s, 20.0) for s in range(10)] + \
                [line("change", s, 3000 + s, 16.0, correct=s != 3) for s in range(10)] + \
                [line("change", 99, 9999, 1.0)]  # no parent twin: ignored
        rows, failed = ab_pairs.summarize(lines, [RATE, CPU])
        self.assertEqual([(r["metric"], r["pairs"], r["wins"], r["verdict"]) for r in rows],
                         [("rate_per_s", 10, 10, "gain"), ("cpu_s", 10, 10, "gain")])
        self.assertEqual(rows[0]["parent"][1], 2404.5)
        self.assertEqual(failed, {"parent": 0, "change": 1})
        out = io.StringIO()
        ab_pairs.print_table(rows, failed, out)
        self.assertIn("10/10", out.getvalue())
        json.dumps(rows)


class TracedSummaryTest(unittest.TestCase):
    def test_traced_jsonl_lists_per_layer_metrics_with_quartiles_and_no_verdict(self):
        lines = [traced_line("parent", s, 300 + s, 2.0, 42.0) for s in range(5)] + \
                [traced_line("change", s, 14 + s, 1.0, 4.0 if s else 42.0) for s in range(5)] + \
                [line("parent", s, 950, 30.0) for s in range(5)] + \
                [line("change", s, 960, 18.0) for s in range(5)]
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write("".join(json.dumps(r) + "\n" for r in lines))
        self.addCleanup(os.remove, f.name)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            ab_pairs.main(["--summarize", f.name, "--change", os.path.dirname(TOOLS)])
        text = out.getvalue()
        traced = text[text.index("workload users_to_topic (traced"):]
        rows = {ln.split()[0]: ln for ln in traced.splitlines()[2:5]}
        # BENCHMARK.json order; metrics the runs did not report are left out
        self.assertEqual(list(rows), ["sources.get_batch_ms", "exec.jobs", "exec.tasks"])
        self.assertIn("302.0", rows["sources.get_batch_ms"])
        self.assertIn("16.0", rows["sources.get_batch_ms"])
        self.assertTrue(rows["sources.get_batch_ms"].rstrip().endswith("5/5    -"))
        self.assertIn(" 4/5 ", rows["exec.tasks"])  # the tie counts for neither side
        # the untraced records of the same file keep their verdict table
        self.assertIn("workload cdc_to_table\n", text)
        self.assertIn("no regression", text[:text.index("(traced")])

    def test_per_layer_rows_carry_no_verdict(self):
        lines = [traced_line("parent", s, 300.0, 2.0, 42.0) for s in range(3)] + \
                [traced_line("change", s, 14.0, 1.0, 4.0) for s in range(3)]
        layer = [{"name": "exec.jobs", "unit": "count", "better": "lower"}]
        rows, failed = ab_pairs.summarize(lines, layer)
        self.assertEqual([(r["metric"], r["wins"], r["verdict"]) for r in rows],
                         [("exec.jobs", 3, None)])
        self.assertEqual(rows[0]["change"], (1.0, 1.0, 1.0))


if __name__ == "__main__":
    unittest.main()
