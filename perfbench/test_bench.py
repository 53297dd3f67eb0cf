#!/usr/bin/env python3
"""The benchmark's own tests.

Run from the repository root:  python3 perfbench/test_bench.py
(the first run builds and generates data like the benchmark does).

- sink honesty: the noop sink the benchmark times keeps the windows and
  aggregates of `percentiles` and `encoding_stats` that a `count()` sink
  lets Catalyst prune;
- corrupted outputs: the output checks of both workloads pass on the real
  outputs and name the query or table after one value is corrupted.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def first_nonempty(pattern):
    return next(p for p in sorted(glob.glob(pattern)) if pq.read_metadata(p).num_rows)


def drop_first_row(path):
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def bump_column(path, column, delta):
    """Add `delta` to the first row's `column`."""
    t = pq.read_table(path)
    vals = t.column(column).to_pylist()
    vals[0] = vals[0] + delta
    i = t.schema.get_field_index(column)
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type)), path)


class SinkHonesty(unittest.TestCase):
    def test_noop_keeps_what_count_prunes(self):
        cp = run.build()
        data = run.ensure_data(cp, "0.1")
        r = subprocess.run(run.java_cmd(cp, "graftbench.SinkHonesty",
                                        [data, "percentiles", "encoding_stats"], mem="2g"),
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        self.assertEqual(r.returncode, 0)
        plans = {d["query"]: d for d in map(json.loads, r.stdout.strip().splitlines())}
        for q in ("percentiles", "encoding_stats"):
            noop, count = plans[q]["noop"], plans[q]["count"]
            # the query's windows run only when its output is forced
            self.assertGreater(noop["windows"], 0, q)
            self.assertEqual(count["windows"], 0, q)
            self.assertGreater(noop["aggregates"], count["aggregates"], q)
        # percentiles: the min(...) interpolation aggregates over the
        # cumulative histogram are gone under count()
        self.assertIn("min", plans["percentiles"]["noop"]["functions"])
        self.assertNotIn("min", plans["percentiles"]["count"]["functions"])


class CorruptedOutputIsCaught(unittest.TestCase):
    def test_oracle_check(self):
        res = run.run("sweep_sf0.1", 7, 1, 0)
        self.assertTrue(res["correct"], res)
        work = os.path.join(run.BUILD, "runs", "sweep_sf0.1-7-0")
        check = run.read_json(os.path.join(work, "result.json"))["check"]
        data = os.path.join(run.BUILD, "data", "sf0.1")
        self.assertEqual(run.check_oracle(data, check), {})
        victim, path = next((q, p) for q in sorted(check["queries"])
                            for p in glob.glob(f"{check['dir']}/{q}/*.parquet")
                            if pq.read_metadata(p).num_rows)
        drop_first_row(path)
        fails = run.check_oracle(data, check)
        self.assertEqual(list(fails), [victim])
        self.assertIn("rows", fails[victim])

    def test_ingest_check(self):
        res = run.run("ingest_stream", 7, 1, 0)
        self.assertTrue(res["correct"], res)
        work = os.path.join(run.BUILD, "runs", "ingest_stream-7-0")
        check = run.read_json(os.path.join(work, "result.json"))["check"]
        self.assertEqual(run.check_ingest(check), {})
        root = check["passes"][-1]
        name = os.path.basename(root)
        bump_column(first_nonempty(f"{root}/silver/*.parquet"), "value", 1.0)
        self.assertEqual(list(run.check_ingest(check)), [f"{name}/silver"])
        bump_column(first_nonempty(f"{root}/gold/*.parquet"), "n_events", 1)
        self.assertEqual(sorted(run.check_ingest(check)), [f"{name}/gold", f"{name}/silver"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
