"""The benchmark's own tests (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import filecmp
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bronze  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _same_files(a, b, names):
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


class BronzeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        d = cls.tmp.name
        cls.sizes = bronze.generate(f"{d}/a", 7, 1)
        bronze.generate(f"{d}/b", 7, 1)
        bronze.generate(f"{d}/c", 8, 1)
        cls.files = [f"{n}.json" for n in bronze.FILES]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        self.assertTrue(_same_files(f"{self.tmp.name}/a", f"{self.tmp.name}/b", self.files))

    def test_other_seed_gives_other_bytes(self):
        for n in ("games.json", "player_stats_by_game.json"):
            self.assertFalse(filecmp.cmp(f"{self.tmp.name}/a/{n}", f"{self.tmp.name}/c/{n}",
                                         shallow=False))

    def test_reference_shape(self):
        d = f"{self.tmp.name}/a"
        with open(f"{d}/games.json") as f:
            text = f.read()
        self.assertNotIn("\n", text)  # games.json is one line
        games = json.loads(text)
        self.assertEqual(len(games), 2460)
        self.assertTrue(all(k.isupper() for k in games[0]))
        per_team = {}
        for g in games:
            home = "vs." in g["MATCHUP"]
            h, a = per_team.get(g["TEAM_ID"], (0, 0))
            per_team[g["TEAM_ID"]] = (h + home, a + (not home))
        self.assertEqual(set(per_team.values()), {(41, 41)})
        with open(f"{d}/player_stats_by_game.json") as f:
            self.assertTrue(f.read(10).startswith("[\n    {"))  # pretty-printed
        rows = self.sizes["player_stats_by_game"]["rows"]
        self.assertAlmostEqual(rows / 2460, 10.5, delta=0.3)
        self.assertEqual(self.sizes["teams"]["rows"], 30)

    def test_scale_is_season_count(self):
        self.assertEqual(len(bronze.season_labels(10)), 10)
        self.assertEqual(bronze.season_labels(1), ["2024"])


class PercentileTest(unittest.TestCase):
    def test_refuses_without_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 0.5)
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)


def _query_result(times, errors=None):
    errors = errors or {}
    qs = lambda: [dict({"name": n, "s": s}, **({"error": errors[n]} if n in errors else {}))
                  for n, s in times.items()]
    return {"cold_pass": {"queries": qs()}, "warm_passes": [{"queries": qs()}],
            "gold_gate": [{"name": "g01", "s": 0.3, "runs": [0.3], "errors": []}],
            "pinned_mb": 1.0, "pinned_blocks": 1}


class FailureAccountingTest(unittest.TestCase):
    def test_failing_query_raises_failed_ratio_and_keeps_pass_time(self):
        ok = {"q1": 1.0, "q2": 2.0}
        base = checks.summarize_queries(_query_result(ok), list(ok), {}, 2)
        # a query that crashes fast is counted, and its time stays in the pass
        crash = dict(ok, q3=0.01)
        failing = checks.summarize_queries(
            _query_result(crash, {"q3": "RuntimeException: forced"}), list(crash), {}, 3)
        self.assertEqual(base["failed_ratio"], 0.0)
        self.assertGreater(failing["failed_ratio"], 0.0)
        self.assertGreaterEqual(failing["pass_s"], base["pass_s"])
        self.assertGreaterEqual(failing["cold_s"], base["cold_s"])

    def test_oracle_mismatch_fails(self):
        ok = {"q1": 1.0}
        s = checks.summarize_queries(_query_result(ok), list(ok), {"q1": "rows 1 != 2"}, 1)
        self.assertEqual(s["failed"], 1)
        self.assertTrue(s["errors"])

    def test_refresh_fingerprint_change_fails(self):
        fps = {"r0/warehouse": {"summary_by_season": "30:aa"},
               "r1/warehouse": {"summary_by_season": "30:bb"}}
        refreshes = [{"wall_s": 30.0, "errors": [], "dir": f"r{i}",
                      "readback_rows": {"summary_by_season": 30}} for i in range(2)]
        s = checks.summarize_refresh({"refreshes": refreshes},
                                     {"games": {"rows": 10, "bytes": 100}}, fps.get)
        self.assertEqual(s["failed"], 1)
        self.assertEqual(s["cold_s"], 30.0)


class HarnessFailureTest(unittest.TestCase):
    def test_hung_harness_prints_a_failed_result(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(f"{d}/src/main/scala/graft")

            def hang(*_):
                raise subprocess.TimeoutExpired("java", 1)

            out = io.StringIO()
            with mock.patch.multiple(run, ROOT=d, WORK=f"{d}/work", build=lambda: None,
                                     jvm=hang, spark_jars=lambda: d), \
                    mock.patch("shutil.which", return_value="/bin/true"), \
                    contextlib.redirect_stdout(out):
                code = run.main(["--workload", "queries_sf001", "--seed", "1",
                                 "--seconds", "1"])
        last = json.loads(out.getvalue().splitlines()[-1])
        self.assertEqual(code, 1)
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], last["attempted"])
        self.assertGreaterEqual(last["attempted"], 1)


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], stats.PER_LAYER)
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
