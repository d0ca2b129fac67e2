"""The benchmark's own tests; they need neither Spark nor a build.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import datetime
import filecmp
import os
import tempfile
import unittest

import duckdb

import checks
import gen



def staged_files(root):
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, ns in os.walk(root) for n in ns)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_files(self):
        for workload in ("stream_drain", "stream_trickle"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.stage(workload, 7, a, 3)
                gen.stage(workload, 7, b, 3)
                gen.stage(workload, 8, c, 3)
                names = staged_files(a)
                self.assertEqual(names, staged_files(b))
                match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)
                data = [n for n in names if n.endswith(".json") and n != "manifest.json"]
                _, differ, _ = filecmp.cmpfiles(a, c, data, shallow=False)
                self.assertTrue(differ, "another seed must give other files")

    def test_trickle_dirt(self):
        lines = [x for f in gen.trickle_files(3, 400) for x in f]
        good = [x for x in lines if checks.parse(x) is not None]
        self.assertGreater(len(lines) - len(good), 0, "malformed lines")
        self.assertGreater(len(good) - len(set(good)), 0, "exact re-sends")
        times = [checks.parse(x)[1] for x in good]
        behind = [t for i, t in enumerate(times) if t < max(times[:i + 1]) - gen.WATERMARK_MS]
        self.assertGreater(len(behind), 0, "rows beyond the watermark")


class TwinComparisonTest(unittest.TestCase):
    ROWS = [("US", "growth", "2024-03-01", "2024-03-01T00:00:59", 3, 10.25),
            ("US", "growth", "2024-03-01", "2024-03-01T00:01:29", 4, 12.5),
            ("IN", "starter", "2024-03-02", "2024-03-02T00:00:10", 1, 5.0)]

    def test_equal_rows_in_any_order(self):
        self.assertEqual(checks.compare_rows(self.ROWS[::-1], self.ROWS), [])

    def test_amounts_compare_to_the_cent(self):
        near = [r[:-1] + (r[-1] + 0.001,) for r in self.ROWS]
        self.assertEqual(checks.compare_rows(near, self.ROWS), [])

    def test_a_planted_wrong_row_is_caught(self):
        for i, bad in enumerate([
                self.ROWS[0][:-1] + (10.27,),                       # amount
                self.ROWS[0][:4] + (2,) + self.ROWS[0][5:],          # count
                ("DE",) + self.ROWS[0][1:]]):                        # key
            planted = list(self.ROWS)
            planted[0] = bad
            self.assertNotEqual(checks.compare_rows(planted, self.ROWS), [], i)
        self.assertNotEqual(checks.compare_rows(self.ROWS[:2], self.ROWS), [])

    def test_twin_is_restricted_to_closed_windows(self):
        twin = [r + (end,) for r, end in zip(self.ROWS, (
            "2024-03-01T00:01:00", "2024-03-01T00:01:30", "2024-03-02T00:00:30"))]
        wm = int(datetime.datetime(2024, 3, 1, 0, 1, 0,
                                   tzinfo=datetime.timezone.utc).timestamp() * 1000)
        self.assertEqual(checks.twin_closed(twin, wm), self.ROWS[:1])

    def test_daily_rollup(self):
        self.assertEqual(sorted(checks.daily_rollup(self.ROWS, "2024-03-01")),
                         [("2024-03-01", "US", True, 22.75)])

    def test_rows_read_back_from_parquet(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "country=US"))
            duckdb.execute(
                "COPY (SELECT 'growth' AS segment, DATE '2024-03-01' AS event_date, "
                "TIMESTAMP '2024-03-01 00:00:59' AS max_event_time, 3::BIGINT AS "
                "unique_events, 10.25 :: DOUBLE AS total_amount) TO '%s' (FORMAT PARQUET)"
                % os.path.join(d, "country=US", "part-0.parquet"))
            got = checks.read_rows([os.path.join(d, "country=US", "part-0.parquet")])
        self.assertEqual(checks.compare_rows(got, self.ROWS[:1]), [])


class LatencyTest(unittest.TestCase):

    def test_known_quantiles(self):
        # file i is due at i s; batch b takes files 10b..10b+9 and commits at
        # 10(b+1) s + 0.5 s, so latencies are 1.5 .. 10.5 s, ten of each
        due = {"f%03d" % i: 1000 * i for i in range(100)}
        batch_of = {"f%03d" % i: i // 10 for i in range(100)}
        commits = {b: 10_000 * (b + 1) + 500 for b in range(10)}
        lat, lost = checks.latencies(due, batch_of, commits)
        self.assertEqual(lost, [])
        self.assertEqual(checks.quantile(lat, 0.5), 6000)
        self.assertEqual(checks.quantile(lat, 0.95), 10500)
        self.assertEqual(min(lat), 1500)

    def test_uncommitted_files_are_lost(self):
        lat, lost = checks.latencies({"a": 0, "b": 0, "c": 0}, {"a": 0, "b": 1},
                                     {0: 2000})
        self.assertEqual((lat, sorted(lost)), ([2000], ["b", "c"]))

    def test_late_rows_are_judged_by_the_previous_batch_watermark(self):
        self.assertEqual(checks.late_watermarks({0: 0, 1: 500, 2: 900}),
                         {0: 0, 1: 0, 2: 500})
        rec = '{"event_id":"e%d","event_time":"1970-01-01T00:00:00.%03dZ"}'
        lines = [rec % (1, 500), rec % (2, 501), "not json", rec % (2, 502)]
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "a.json"), "w") as f:
                f.write("\n".join(lines) + "\n")
            c, on_time = checks.input_counts([os.path.join(d, "a.json")],
                                             {"a.json": 500}.get)
        self.assertEqual(on_time, lines[1:])
        self.assertEqual(c, {"in": 4, "late": 1, "malformed": 1, "duplicate": 1, "kept": 1})

    def test_files_map_to_the_query_batch_that_read_them(self):
        # batch 1 ran without new files, so source entry 1 went to batch 2
        with tempfile.TemporaryDirectory() as chk:
            for d in ("offsets", "commits", "sources/0"):
                os.makedirs(os.path.join(chk, d))
            for b, (wm, upto) in enumerate([(0, 0), (500, 0), (500, 1)]):
                with open(os.path.join(chk, "offsets", str(b)), "w") as f:
                    f.write('v1\n{"batchWatermarkMs":%d}\n{"logOffset":%d}' % (wm, upto))
                open(os.path.join(chk, "commits", str(b)), "w").close()
            for e, name in enumerate(["a.json", "b.json"]):
                with open(os.path.join(chk, "sources", "0", str(e)), "w") as f:
                    f.write('v1\n{"path":"file:///in/%s","batchId":%d}\n' % (name, e))
            commits, offsets, _, files = checks.checkpoint(chk)
        self.assertEqual(files, {"a.json": 0, "b.json": 2})
        self.assertEqual((sorted(commits), offsets), ([0, 1, 2], {0: 0, 1: 500, 2: 500}))

    def test_self_times(self):
        spans = [{"layer": "a", "start_ms": 0, "end_ms": 100},
                 {"layer": "b", "start_ms": 10, "end_ms": 40},
                 {"layer": "c", "start_ms": 20, "end_ms": 30},
                 {"layer": "b", "start_ms": 50, "end_ms": 60}]
        self.assertEqual(checks.self_times(spans), {"a": 0.06, "b": 0.03, "c": 0.01})


if __name__ == "__main__":
    unittest.main()
