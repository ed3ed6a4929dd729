"""Tests for scripts/pairs.py. Run: python3 -m unittest scripts/test_pairs.py"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pairs import parse_seeds, quantile, snapshot, verdict  # noqa: E402

PARENT = [0.60, 0.62, 0.64, 0.61, 0.66, 0.63, 0.65, 0.59, 0.67, 0.62]


class VerdictTest(unittest.TestCase):
    def test_clear_gain_meets_the_claim(self):
        change = [p - 0.3 for p in PARENT]
        v = verdict(PARENT, change, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertTrue(v["claim_met"])
        self.assertTrue(v["within_bound"])

    def test_eight_of_ten_wins_is_not_a_claim(self):
        change = [p - 0.3 for p in PARENT[:8]] + [p + 0.01 for p in PARENT[8:]]
        v = verdict(PARENT, change, "lower", 0.25)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["claim_met"])

    def test_a_gain_inside_the_parent_spread_is_not_a_claim(self):
        # wins every pair, but by less than the parent's interquartile range
        change = [p - 0.01 for p in PARENT]
        v = verdict(PARENT, change, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertLess(0.01, quantile(PARENT, 0.75) - quantile(PARENT, 0.25))
        self.assertFalse(v["claim_met"])

    def test_higher_is_better_flips_the_direction(self):
        change = [p + 0.3 for p in PARENT]
        self.assertTrue(verdict(PARENT, change, "higher", 0.25)["claim_met"])
        self.assertFalse(verdict(PARENT, change, "lower", 0.25)["claim_met"])

    def test_bound_is_a_relative_worsening_of_the_median(self):
        self.assertTrue(verdict([1.0] * 4, [1.2] * 4, "lower", 0.25)
                        ["within_bound"])
        self.assertFalse(verdict([1.0] * 4, [1.3] * 4, "lower", 0.25)
                         ["within_bound"])
        self.assertFalse(verdict([10.0] * 4, [7.0] * 4, "higher", 0.25)
                         ["within_bound"])

    def test_unpaired_samples_are_refused(self):
        with self.assertRaises(ValueError):
            verdict([1.0, 2.0], [1.0], "lower", 0.25)


class HelpersTest(unittest.TestCase):
    def test_quantiles_interpolate(self):
        self.assertEqual(quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(quantile([5], 0.25), 5)

    def test_seed_ranges_and_lists(self):
        self.assertEqual(parse_seeds("2-5"), [2, 3, 4, 5])
        self.assertEqual(parse_seeds("2,7-8"), [2, 7, 8])


class SnapshotTest(unittest.TestCase):
    def test_a_snapshot_holds_no_ignored_build_or_bench_output(self):
        with tempfile.TemporaryDirectory() as tmp:
            repo, into = os.path.join(tmp, "repo"), os.path.join(tmp, "into")
            files = {
                ".gitignore": "target/\nperfbench/.work/\n",
                "src/A.scala": "object A",
                "perfbench/run.py": "print(1)",
                "perfbench/.work/cp.txt": "stale classpath",
                "target/scala-2.13/A.class": "stale class",
                "notes.md": "untracked, not ignored",
            }
            for name, text in files.items():
                os.makedirs(os.path.dirname(os.path.join(repo, name)),
                            exist_ok=True)
                with open(os.path.join(repo, name), "w") as f:
                    f.write(text)
            subprocess.run(["git", "init", "-q", repo], check=True)
            subprocess.run(["git", "add", ".gitignore", "src", "perfbench"],
                           cwd=repo, check=True)
            os.makedirs(into)
            snapshot(repo, into)
            got = sorted(os.path.relpath(os.path.join(d, f), into)
                         for d, _, fs in os.walk(into) for f in fs)
            self.assertEqual(got, [".gitignore", "notes.md",
                                   "perfbench/run.py", "src/A.scala"])


if __name__ == "__main__":
    unittest.main()
