#!/usr/bin/env python3
"""The benchmark's own test: one short run of each workload must leave the
checkout as it found it.

    python3 perfbench/test_hygiene.py      # from the root of a checkout

Checks, per workload:
  - the run exits 0 and its last stdout line is the result object;
  - stores, the Spark warehouse, the Derby metastore and java.io.tmpdir
    all sat under `perfbench/.work`, and the per-run dir is gone after;
  - the run dropped every table it created;
  - it wrote no BENCH_LOCAL.json and did not touch PLANS.md;
  - no new entry appeared in the checkout root, and `git status` (when
    the checkout is a git repository) is unchanged.
"""
import hashlib
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def digest(path):
    if not os.path.exists(path):
        return None
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def git_status():
    try:
        r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                           capture_output=True, text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout if r.returncode == 0 else None


class Hygiene(unittest.TestCase):
    def run_once(self, workload):
        watched = {p: digest(os.path.join(ROOT, p))
                   for p in ("BENCH_LOCAL.json", "PLANS.md")}
        root_before = set(os.listdir(ROOT))
        here_before = set(os.listdir(HERE))
        status_before = git_status()
        r = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], r.stderr[-3000:])

        with open(os.path.join(WORK, "traces", f"last-{workload}.json")) as fh:
            res = json.load(fh)
        self.assertEqual(res["tables_left"], 0)
        for key in ("tmpdir", "warehouse_dir", "local_dir", "derby_home"):
            self.assertTrue(
                os.path.abspath(res[key].removeprefix("file:")).startswith(
                    WORK + os.sep),
                f"{key}={res[key]} is outside {WORK}")
        self.assertFalse(os.path.exists(os.path.join(WORK, "run")))

        for p, d in watched.items():
            self.assertEqual(digest(os.path.join(ROOT, p)), d, p)
        self.assertEqual(set(os.listdir(ROOT)), root_before)
        # only the git-ignored work dir may appear next to the sources
        self.assertLessEqual(set(os.listdir(HERE)) - here_before, {".work"})
        for stray in ("spark-warehouse", "metastore_db", "derby.log"):
            self.assertFalse(os.path.exists(os.path.join(ROOT, stray)))
            self.assertFalse(os.path.exists(os.path.join(HERE, stray)))
        self.assertEqual(git_status(), status_before)

    def test_daily_ingest(self):
        self.run_once("daily-ingest")

    def test_catalog_small(self):
        self.run_once("catalog-small")


if __name__ == "__main__":
    unittest.main()
