#!/usr/bin/env python3
"""The benchmark's own test: seeded generation is reproducible.

The same seed must give byte-identical tables, REST schedules and stream
event logs; a different seed must change each of them.

    python3 perfbench/test_gen.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(seed, root):
    tables = os.path.join(root, "tables")
    sizes = gen.tables(seed, tables, 0.001)
    gen.accounts(tables)
    events = os.path.join(root, "events")
    gen.stream_events(seed, events, 200, 1.0, 2.0, 500, 1000, 300)
    sched = gen.serving_schedule(seed, sizes["customers"], 4.0, 5.0, 8, 8)
    return {"tables": digest_dir(tables), "events": digest_dir(events),
            "schedule": hashlib.sha256(
                json.dumps(sched, sort_keys=True).encode()).hexdigest()}


class SeededGeneration(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory(dir=os.getcwd())
        root = cls.tmp.name
        cls.a = generate(7, os.path.join(root, "a"))
        cls.b = generate(7, os.path.join(root, "b"))
        cls.c = generate(8, os.path.join(root, "c"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        self.assertEqual(self.a, self.b)

    def test_other_seed_changes_every_artefact(self):
        for k in self.a:
            self.assertNotEqual(self.a[k], self.c[k], k)

    def test_schedule_is_open_loop_and_mixed(self):
        s = gen.serving_schedule(3, 1500, 4.0, 60.0, 0, 0)["open"]
        dues = [q["due"] for q in s]
        self.assertEqual(dues, sorted(dues))
        share = {k: sum(q["kind"] == k for q in s) / len(s)
                 for k in ("mv", "base_key", "base_agg", "write", "ddl")}
        self.assertAlmostEqual(share["mv"], 0.50, delta=0.1)
        self.assertAlmostEqual(share["base_key"] + share["base_agg"], 0.35, delta=0.1)
        self.assertAlmostEqual(share["write"] + share["ddl"], 0.15, delta=0.07)


if __name__ == "__main__":
    unittest.main()
