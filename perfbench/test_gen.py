#!/usr/bin/env python3
"""Tests of the input generator: the same seed writes byte-identical files,
another seed writes different ones, and the planted lyrics are where the
answer key says.

Run from the root of the checkout: python3 -m unittest perfbench/test_gen.py
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def digest(root):
    """relative path -> sha256 of every file under root."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generate(self, name, seed):
        out = os.path.join(self.tmp, name)
        gen.gen_catalog(os.path.join(out, "catalog"))
        gen.gen_vcut(os.path.join(out, "vcut"), seed)
        gen.gen_warehouse(os.path.join(out, "warehouse"), seed)
        return out

    def test_same_seed_same_bytes(self):
        a = digest(self.generate("a", 7))
        b = digest(self.generate("b", 7))
        self.assertTrue(a)
        self.assertEqual(a, b)

    def test_other_seed_other_bytes(self):
        a = digest(self.generate("a", 7))
        c = digest(self.generate("c", 8))
        for part in ("vcut/listing.json", "vcut/answer_key.json", "vcut/songs.json",
                     "warehouse/base.json", "warehouse/ops.json"):
            self.assertNotEqual(a[part], c[part], part)
        # the catalog tables are seed-independent: expected hashes depend on them
        self.assertEqual({k: v for k, v in a.items() if k.startswith("catalog/")},
                         {k: v for k, v in c.items() if k.startswith("catalog/")})

    def test_answer_key_matches_transcripts(self):
        out = self.generate("a", 7)
        key = json.load(open(os.path.join(out, "vcut", "answer_key.json")))
        self.assertTrue(any(k["expect_found"] for k in key))
        self.assertTrue(any(not k["expect_found"] for k in key))
        for k in key:
            tick = "history" if k["tick"] < 0 else str(k["tick"])
            pages = json.load(open(os.path.join(out, "vcut", "transcripts", tick,
                                                f"{k['bvid']}.json")))
            page = pages[k["page"] - 1]
            n = len(k["lyrics"].split("\n"))
            starts = [i for i, s in enumerate(page) if int(s["start"]) == k["start"]]
            self.assertTrue(starts, k["bvid"])
            window = "\n".join(s["text"] for s in page[starts[0]:starts[0] + n])
            self.assertAlmostEqual(gen.indel_ratio(window, k["lyrics"]), k["score"], places=2)


if __name__ == "__main__":
    unittest.main()
