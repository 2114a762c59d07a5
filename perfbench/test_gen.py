"""Tests of the seeded input generator: python3 -m unittest perfbench/test_gen.py"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    if os.path.isfile(d):
        with open(d, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()
    for root, dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), d).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    def test_seed_decides_inputs(self):
        for workload in ("lake_scan", "llm_audit", "lake_ingest"):
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(workload, 7, a)
                gen.generate(workload, 7, b)
                gen.generate(workload, 8, c)
                self.assertEqual(digest(a), digest(b), workload)
                self.assertNotEqual(digest(a), digest(c), workload)

    def test_lake_scan_mix_is_fixed(self):
        with tempfile.TemporaryDirectory() as t:
            props = [gen.generate("lake_scan", s, os.path.join(t, str(s))) for s in (1, 2)]
            for k in ("requests", "glob_requests", "repeated_glob_share", "manifest_keys"):
                self.assertEqual(props[0][k], props[1][k])
            reqs = json.load(open(os.path.join(t, "1", "requests.json")))["requests"]
            self.assertEqual(sorted(q["key"] for q in reqs if q["kind"] == "key"),
                             sorted(gen.CONTRACT_KEYS))

    def test_warmup_has_inputs_of_its_own(self):
        for workload in ("lake_scan", "llm_audit", "lake_ingest"):
            with tempfile.TemporaryDirectory() as t:
                gen.generate(workload, 5, t)
                w = os.path.join(t, "warmup")
                for table in ("events.parquet", "documents.parquet", "embeddings.parquet"):
                    self.assertNotEqual(digest(os.path.join(t, table)), digest(os.path.join(w, table)))
                timed = json.load(open(os.path.join(t, "requests.json")))["requests"]
                warm = json.load(open(os.path.join(w, "requests.json")))["requests"]
                self.assertTrue(warm)
                self.assertFalse(gen._glob_lists(timed) & gen._glob_lists(warm), workload)

    def test_ingest_plan_touches_only_live_files(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("lake_ingest", 3, t)
            cycles = json.load(open(os.path.join(t, "requests.json")))["requests"]
            live = set()
            for c in cycles:
                touched = [tuple(p) for p in c["rewrite"] + c["delete"]]
                self.assertTrue(set(touched) <= live)
                live -= {tuple(p) for p in c["delete"]}
                live |= {(d, ty) for d in c["days"] for ty in gen.EVENT_TYPES}
            self.assertEqual(sorted(d for c in cycles for d in c["days"]), list(range(1, gen.DAYS + 1)))


if __name__ == "__main__":
    unittest.main()
