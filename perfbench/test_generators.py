#!/usr/bin/env python3
"""Tests of the benchmark's input generators: the same seed gives the
same manifest (rows, bytes, files, content hash), another seed gives
another one.

  python3 perfbench/test_generators.py

The batch_hour corpus is written by the benchmark's JVM, so that test
builds the benchmark first (as run.py does) and writes small corpora.
"""
import json
import os
import shutil
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import speedgen  # noqa: E402

TMP = os.path.join(run.WORK, "test")


def fresh(name):
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    return d


class Generators(unittest.TestCase):
    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_speed_events(self):
        def batch(seed):
            names, p = speedgen.tag_names(seed)
            return speedgen.events(np.random.default_rng(seed), names, p, 1_700_000_000_000_000)
        (s1, t1), (s2, t2), (_, t3) = batch(3), batch(3), batch(4)
        self.assertTrue((s1 == s2).all() and (t1 == t2).all())
        self.assertFalse((t1 == t3).all())

    def test_batch_corpus_manifest(self):
        cp, _ = run.build()

        def manifest(seed, name):
            d = fresh(name)
            code = run.java(cp, ["gen-batch", "--seed", str(seed), "--data", d,
                                 "--hours", "2", "--tweets", "3000", "--cpus", "2"],
                            600, os.path.join(TMP, f"{name}.log"))
            self.assertEqual(code, 0, run.tail(os.path.join(TMP, f"{name}.log")))
            with open(os.path.join(d, "manifest.json")) as f:
                return json.load(f)
        os.makedirs(TMP, exist_ok=True)
        a, b, c = manifest(5, "batch-a"), manifest(5, "batch-b"), manifest(6, "batch-c")
        self.assertEqual(a, b)
        self.assertNotEqual(a["hash"], c["hash"])
        self.assertNotEqual(a["expected_top10"], c["expected_top10"])
        self.assertEqual(a["rows"], 6000)


if __name__ == "__main__":
    unittest.main()
