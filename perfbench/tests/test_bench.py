"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import check, gen, layers, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.highest_supported(9))
        self.assertIsNone(stats.highest_supported(19))
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(99), 75)
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(999), 95)
        self.assertEqual(stats.highest_supported(1000), 99)

    def test_median_of_parts(self):
        # thirds [1..4], [10..13], [5..8]: their medians 2, 11, 6 -> 6
        v = [1, 2, 3, 4, 10, 11, 12, 13, 5, 6, 7, 8]
        self.assertEqual(stats.median_of_parts(v, 3, 50), 6)
        self.assertEqual(stats.median_of_parts(v, 1, 50), 6)

    def test_nearest_rank(self):
        v = list(range(1, 101))
        random.Random(1).shuffle(v)
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)


def _write_log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


class LatencyAttributionTest(unittest.TestCase):
    def test_due_to_commit_over_a_source_log(self):
        with tempfile.TemporaryDirectory() as ck:
            src = os.path.join(ck, "sources", "0")
            # batches 0-1 compacted into one file, batch 2 a delta, batch 3 not committed
            _write_log(os.path.join(src, "1.compact"), [
                {"path": "file:///in/a.json", "timestamp": 1, "batchId": 0},
                {"path": "file:///in/b.json", "timestamp": 1, "batchId": 1},
                {"path": "file:///in/c.json", "timestamp": 1, "batchId": 1}])
            _write_log(os.path.join(src, "2"), [
                {"path": "file:///in/d.json", "timestamp": 2, "batchId": 2}])
            _write_log(os.path.join(src, "3"), [
                {"path": "file:///in/e.json", "timestamp": 3, "batchId": 3}])
            _write_log(os.path.join(src, ".2.crc"), [])
            os.makedirs(os.path.join(ck, "commits"))
            for b, t in ((0, 100.5), (1, 101.0), (2, 102.25)):
                p = os.path.join(ck, "commits", str(b))
                open(p, "w").close()
                os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))
            batches = check.files_by_batch(ck)
            self.assertEqual(batches, {0: ["a.json"], 1: ["b.json", "c.json"],
                                       2: ["d.json"], 3: ["e.json"]})
            commits = check.commit_times(ck)
            due = {"a.json": 100.0, "b.json": 100.2, "c.json": 100.4, "d.json": 101.0,
                   "e.json": 101.5, "f.json": 101.9}
            lat, missing = check.file_latencies(due, batches, commits)
            self.assertEqual(missing, ["e.json", "f.json"])
            self.assertAlmostEqual(lat["a.json"], 0.5)
            self.assertAlmostEqual(lat["b.json"], 0.8)
            self.assertAlmostEqual(lat["c.json"], 0.6)
            self.assertAlmostEqual(lat["d.json"], 1.25)

    def test_cpu_between_interpolates(self):
        samples = [(1000.0, 10.0), (2000.0, 12.0), (4000.0, 13.0)]
        self.assertAlmostEqual(check.cpu_between(samples, 1.5, 3.0), 12.5 - 11.0)
        self.assertAlmostEqual(check.cpu_between(samples, 0.0, 9.0), 3.0)

    def test_backlog_seen_at_batch_starts(self):
        written = {"a": 0.0, "b": 0.1, "c": 0.2, "d": 0.3, "e": 1.5}
        batches = {0: ["a"], 1: ["b", "c", "d"], 2: ["e"]}
        self.assertEqual(check.backlog_max(written, batches, {0: 0.05, 1: 0.5, 2: 1.6}), 3)


class FingerprintTest(unittest.TestCase):
    ROWS = [{"k": 1, "x": 0.1 + 0.2, "s": "a", "t": dt.datetime(2024, 1, 1, 3)},
            {"k": 2, "x": None, "s": "b", "t": dt.datetime(2024, 1, 2)},
            {"k": 2, "x": None, "s": "b", "t": dt.datetime(2024, 1, 2)},
            {"k": 3, "x": -0.0, "s": "", "t": None, "v": [1.5, 2.0]}]

    def test_order_independent(self):
        shuffled = list(reversed(self.ROWS))
        reordered_cols = [dict(reversed(list(r.items()))) for r in self.ROWS]
        fp = check.fingerprint(self.ROWS)
        self.assertEqual(fp, check.fingerprint(shuffled))
        self.assertEqual(fp, check.fingerprint(reordered_cols))
        self.assertEqual(fp["rows"], 4)

    def test_sensitive_to_values_and_multiplicity(self):
        fp = check.fingerprint(self.ROWS)
        self.assertNotEqual(fp, check.fingerprint(self.ROWS[:2] + self.ROWS[3:]))
        changed = [dict(r) for r in self.ROWS]
        changed[0]["s"] = "z"
        self.assertNotEqual(fp, check.fingerprint(changed))

    def test_engine_neutral_forms(self):
        utc = dt.timezone.utc
        a = [{"x": 0.30000000000000004, "t": dt.datetime(2024, 1, 1, 3, tzinfo=utc), "n": 0.0}]
        b = [{"x": 0.3, "t": dt.datetime(2024, 1, 1, 3), "n": -0.0}]
        self.assertEqual(check.fingerprint(a), check.fingerprint(b))


class ExpectedTableTest(unittest.TestCase):
    def test_insert_update_delete_reinsert(self):
        r1 = {"id": 1, "name": "a", "updated_at": 10, "private_info": "p"}
        r1u = {**r1, "name": "a2", "updated_at": 11}
        r2 = {"id": 2, "name": "b", "updated_at": 20, "private_info": "q"}
        r2b = {**r2, "name": "b-again", "updated_at": 30}
        events = [("c", None, r1, 100), ("c", None, r2, 101), ("u", r1, r1u, 102),
                  ("d", r2, None, 103), ("c", None, r2b, 104), ("d", r1u, None, 105),
                  ("c", None, {**r1, "id": 3}, 106)]
        want = check.expected_table(events)
        self.assertEqual(sorted(want), [2, 3])
        self.assertEqual(want[2], {**r2b, "__deleted": "false", "__op": "c", "__ts_ms": 104})
        self.assertEqual(want[3]["__ts_ms"], 106)
        # a key updated then kept carries the update's op
        self.assertEqual(check.expected_table(events[:3])[1]["__op"], "u")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.users_file(7, 3, 5)[1], gen.users_file(7, 3, 5)[1])
        self.assertNotEqual(gen.users_file(7, 3, 5)[1], gen.users_file(8, 3, 5)[1])
        self.assertEqual(gen.cdc_events(7, 500), gen.cdc_events(7, 500))
        self.assertNotEqual(gen.cdc_events(7, 500), gen.cdc_events(8, 500))

    def test_cdc_stream_shape(self):
        ev = gen.cdc_events(3, 5000)
        ts = [e[3] for e in ev]
        self.assertTrue(all(a < b for a, b in zip(ts, ts[1:])))
        ops = [e[0] for e in ev]
        self.assertAlmostEqual(ops.count("c") / len(ops), 0.85, delta=0.03)
        self.assertAlmostEqual(ops.count("d") / len(ops), 0.05, delta=0.02)
        live = set()
        for op, before, after, _ in ev:  # updates and deletes hit live keys only
            if op == "c":
                self.assertNotIn(after["id"], live)
                live.add(after["id"])
            else:
                self.assertIn(before["id"], live)
                if op == "d":
                    live.remove(before["id"])

    def test_record_size(self):
        data = gen.users_file(1, 0, 100)[1]
        self.assertAlmostEqual(len(data) / 100, 528, delta=15)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        s = layers.Spans()
        root = s.add("t", "batch", "core", 0, 100)
        s.add("t", "getBatch", "sources", 0, 30, root)
        add = s.add("t", "addBatch", "sinks", 30, 90, root)
        s.add("t", "job", "exec", 40, 70, add)
        s.add("t", "job", "exec", 60, 80, add)
        st = layers.self_times(s.items)
        self.assertEqual(st, {"core": 10, "sources": 30, "sinks": 20, "exec": 50})


if __name__ == "__main__":
    unittest.main()
