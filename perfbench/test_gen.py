"""Determinism of the benchmark's inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The same seed must give byte-identical ingest folders, the same rolling
update script and the same face order; another seed must not.
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen

BUILD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build")


def tree_digest(root):
    """SHA256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def stage(self, seed):
        os.makedirs(BUILD, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=BUILD) as d:
            plan = gen.plan_backlog(seed, n_delta=3, n_bulk=1, delta_rows=200, bulk_rows=2000)
            expected = gen.stage_ingest_backlog(d, seed, plan)
            return tree_digest(d), expected

    def test_same_seed_same_folders(self):
        self.assertEqual(self.stage(7), self.stage(7))

    def test_other_seed_other_folders(self):
        self.assertNotEqual(self.stage(7)[0], self.stage(8)[0])

    def test_manifest_carries_real_sha256(self):
        os.makedirs(BUILD, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=BUILD) as d:
            folder = gen.plan_backlog(3, 1, 0, 50, 0)[0]
            gen.stage_folder(d, folder, 3)
            root = os.path.join(d, "pending", folder["name"])
            lines = open(os.path.join(root, "manifest.json")).read().splitlines()
            self.assertEqual(len(lines), 2 * len(gen.ENTITIES))
            for entry in map(json.loads, lines):
                entity = entry["FileName"].split("_")[0]
                with open(os.path.join(root, entity, entry["FileName"]), "rb") as fh:
                    self.assertEqual(hashlib.sha256(fh.read()).hexdigest(), entry["SHA256"])

    def test_face_order_and_pod_script(self):
        faces = [f"f{i}" for i in range(30)]
        self.assertEqual(gen.face_order("5-0", faces), gen.face_order("5-0", faces))
        self.assertNotEqual(gen.face_order("5-0", faces), gen.face_order("6-0", faces))
        self.assertEqual(sorted(gen.face_order("5-0", faces)), sorted(faces))
        self.assertEqual(gen.pod_script(5, 10), gen.pod_script(5, 10))


if __name__ == "__main__":
    unittest.main()
