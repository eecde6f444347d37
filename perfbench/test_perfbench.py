"""The benchmark's own tests: every output check can fail, inputs repeat.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import datetime
import filecmp
import json
import os
import random
import subprocess
import tempfile
import unittest
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import run
import workloads

HOUR = 3_600_000
PAGES = ["/", "/products", "/cart", "/checkout", "/payment", "/account"]


def synthetic_frames(path, seed, n):
    """`n` frames in the wire shape of `ClickstreamGen.toWire`: enough users,
    sessions, pages, devices and purchases to exercise every stream check."""
    rnd = random.Random(seed)
    sessions = {}
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            user = 1 + rnd.randrange(300)
            if user not in sessions or rnd.random() < 0.1:
                sessions[user] = f"s{seed}-{i}"
            ts = 1704067200000 + i * 50 + rnd.randrange(500)
            stamp = datetime.datetime.fromtimestamp(ts / 1000, datetime.timezone.utc)
            v = {"user_id": user, "session_id": sessions[user],
                 "timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts % 1000:03d}Z",
                 "page": rnd.choice(PAGES),
                 "event_type": rnd.choice(["page_view", "purchase", "search", "login"]),
                 "device": {"type": rnd.choice(["desktop", "mobile"]),
                            "browser": rnd.choice(["chrome", "safari"]),
                            "os": rnd.choice(["ios", "linux"])}}
            if v["event_type"] == "purchase":
                v["total_amount"] = (1999 + rnd.randrange(198000)) / 100
            f.write(f"{user}\t{ts}\t{json.dumps(v)}\n")


def perfect_snapshot(exp):
    """The sink contents a correct engine would leave for `exp`."""
    views = defaultdict(int)
    for (_, page), n in exp["page_views"].items():
        views[page] += n
    return {
        "page_view_stats": [[ws, ws + 60_000, p, n] for (ws, p), n in exp["page_views"].items()],
        "user_sessions": [[sid, uid, *v] for (sid, uid), v in exp["sessions"].items()],
        "purchase_stats": [[ws, ws + HOUR, n, cents / 100, buyers]
                           for ws, (n, cents, buyers) in exp["purchases"].items()],
        "device_stats": [[ws, ws + HOUR, dt, br, os_, n, u, s]
                         for (ws, dt, br, os_), (n, u, s) in exp["devices"].items()],
        "kv_page_views": dict(views),
        "kv_page_series_total": dict(views),
        "kv_purchases": sum(n for n, _, _ in exp["purchases"].values()),
        "kv_revenue": sum(c for _, c, _ in exp["purchases"].values()) / 100,
    }


class StreamChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as d:
            synthetic_frames(f"{d}/frames.tsv", 7, 6000)
            cls.exp = check.expected_stream(check.read_frames(f"{d}/frames.tsv"))
        cls.good = perfect_snapshot(cls.exp)

    def errors_after(self, perturb):
        snap = copy.deepcopy(self.good)
        perturb(snap)
        return check.stream_errors(snap, self.exp)

    def test_correct_snapshot_passes(self):
        self.assertEqual(check.stream_errors(self.good, self.exp), [])

    def test_hll_estimate_within_bound_passes(self):
        def near(s):
            row = max(s["device_stats"], key=lambda r: r[6])
            row[6] += check.HLL_SIGMAS * check.HLL_RSD * row[6] // 2
        self.assertEqual(self.errors_after(near), [])

    def test_one_count_off(self):
        def off(s):
            s["page_view_stats"][0][3] += 1
        self.assertTrue(self.errors_after(off))

    def test_one_window_row_missing(self):
        self.assertTrue(self.errors_after(lambda s: s["page_view_stats"].pop()))
        self.assertTrue(self.errors_after(lambda s: s["device_stats"].pop()))

    def test_revenue_off_by_a_cent(self):
        def derby(s):
            s["purchase_stats"][0][3] = round(s["purchase_stats"][0][3] + 0.01, 2)

        def kv(s):
            s["kv_revenue"] += 0.01
        self.assertTrue(self.errors_after(derby))
        self.assertTrue(self.errors_after(kv))

    def test_hll_estimate_outside_bound(self):
        def far(s):
            row = max(s["device_stats"], key=lambda r: r[6])
            row[6] += max(2, 2 * check.HLL_SIGMAS * check.HLL_RSD * row[6])
        self.assertTrue(self.errors_after(far))

        def buyers(s):
            s["purchase_stats"][0][4] *= 2
        self.assertTrue(self.errors_after(buyers))

    def test_session_journey_out_of_order(self):
        def swap(s):
            row = next(r for r in s["user_sessions"] if "," in r[5])
            pages = row[5].split(",")
            row[5] = ",".join(pages[1:] + pages[:1])
        self.assertTrue(self.errors_after(swap))

    def test_kv_path_disagrees_with_derby(self):
        def kv(s):
            page = next(iter(s["kv_page_views"]))
            s["kv_page_views"][page] -= 1
        self.assertTrue(self.errors_after(kv))
        self.assertTrue(self.errors_after(lambda s: s.update(kv_purchases=s["kv_purchases"] + 1)))


class BatchChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        pq.write_table(pa.table({"k": pa.array([1, 2, 2, 3], pa.int64()),
                                 "v": [1.5, 2.0, 3.0, 4.25]}), f"{d}/t.parquet")
        self.inputs, self.results = d, f"{d}/results"
        self.oracles = {"q": "SELECT k, CAST(SUM(v) AS DOUBLE) AS s FROM t GROUP BY k"}

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, table):
        os.makedirs(f"{self.results}/q", exist_ok=True)
        pq.write_table(table, f"{self.results}/q/part-0.parquet")

    def test_matching_rows_pass(self):
        self.write_result(pa.table({"s": [4.25, 1.5, 5.0], "k": pa.array([3, 1, 2], pa.int64())}))
        self.assertEqual(check.batch_errors(self.inputs, self.results, self.oracles), {})

    def test_a_row_that_differs_from_duckdb(self):
        self.write_result(pa.table({"k": pa.array([1, 2, 3], pa.int64()), "s": [1.5, 5.0, 4.26]}))
        self.assertIn("q", check.batch_errors(self.inputs, self.results, self.oracles))

    def test_a_missing_row_and_a_missing_output(self):
        self.write_result(pa.table({"k": pa.array([1, 2], pa.int64()), "s": [1.5, 5.0]}))
        self.assertIn("q", check.batch_errors(self.inputs, self.results, self.oracles))
        self.assertIn("r", check.batch_errors(self.inputs, self.results,
                                              dict(self.oracles, r="SELECT 1 AS x")))

    def test_same_values_of_another_type(self):
        self.write_result(pa.table({"k": pa.array([1, 2, 3], pa.decimal128(10, 0)),
                                    "s": [1.5, 5.0, 4.25]}))
        self.assertIn("q", check.batch_errors(self.inputs, self.results, self.oracles))


class SeededInputs(unittest.TestCase):
    def test_one_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            for d, seed in ((a, 5), (b, 5), (c, 6)):
                gen.batch_tables(seed, d, 0.001, 50, 50)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            match, mismatch, _ = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((sorted(match), mismatch), (names, []))
            match, _, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertNotIn("lineitem.parquet", match)

    @unittest.skipUnless(os.path.isdir(run.CLASSES), "needs a build: run perfbench/run.py once")
    def test_one_seed_gives_byte_identical_frames_and_none_is_late(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                cmd = run.java_command(os.path.join(d, "tmp")) + [
                    "perfbench.Frames", str(seed), "3000", f"{d}/{name}.tsv"]
                subprocess.run(cmd, check=True, capture_output=True, timeout=120)
            self.assertTrue(filecmp.cmp(f"{d}/a.tsv", f"{d}/b.tsv", shallow=False))
            self.assertFalse(filecmp.cmp(f"{d}/a.tsv", f"{d}/c.tsv", shallow=False))
            latest = float("-inf")
            for e in check.read_frames(f"{d}/a.tsv"):
                self.assertGreater(e["ts_ms"], latest - 60_000)
                latest = max(latest, e["ts_ms"])


class BenchmarkFile(unittest.TestCase):
    def test_benchmark_json_mirrors_workloads(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], sorted(workloads.ALL))
        self.assertEqual(bench["end_to_end"], workloads.END_TO_END)
        self.assertEqual(bench["per_layer"], workloads.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
