import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402


def listing(root):
    return {os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) for f in fs}


def touch(root, rel):
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write("x")


def op(new_files, name="q", t0=0.0, t1=1000.0, ok=True, pass_=1, kind="warm"):
    """An op record as the harness writes it, from the files it created."""
    return {"name": name, "pass": pass_, "kind": kind, "traced": False,
            "t0": t0, "tc": t0, "t1": t1, "ok": ok, "err": None,
            "new_manifests": sorted(p for p in new_files
                                    if os.path.basename(os.path.dirname(p)) == "_manifests"),
            "files_written": len(new_files), "bytes_written": 0,
            "files_deleted": 0, "live_bytes": 0}


class WriteReadClassification(unittest.TestCase):
    """A toy store: a table dir with data files and a `_manifests` dir."""

    def setUp(self):
        self.root = tempfile.mkdtemp()
        touch(self.root, "wh/t/epoch=0/part-0.parquet")
        touch(self.root, "wh/t/_manifests/m1.json")

    def tearDown(self):
        import shutil
        shutil.rmtree(self.root)

    def run_op(self, *created):
        before = listing(self.root)
        for rel in created:
            touch(self.root, rel)
        return op(listing(self.root) - before)

    def test_a_commit_is_a_write(self):
        o = self.run_op("wh/t/epoch=1/part-0.parquet", "wh/t/_manifests/m2.json")
        self.assertTrue(report.is_write(o))

    def test_a_read_creates_no_manifest(self):
        self.assertFalse(report.is_write(self.run_op()))

    def test_data_files_without_a_manifest_are_not_a_commit(self):
        o = self.run_op("wh/t/epoch=1/part-0.parquet", "wh/t/_manifests/.m2.json.tmp",
                        "wh/t/_manifests/m2.json.crc")
        self.assertFalse(report.is_write(o))

    def test_a_fresh_store_is_a_write(self):
        self.assertTrue(report.is_write(self.run_op("wh2/u/_manifests/m1.json")))

    def test_write_and_read_latencies_split(self):
        run = {"setup_s": 2.0, "vmhwm_kb": 2048, "ops": [
            op(["a/_manifests/m2.json"], "w", 0, 400),
            op([], "r", 400, 500),
            op(["b/_manifests/m3.json"], "w", 500, 900, pass_=2),
            op([], "r", 900, 1100, pass_=2),
        ]}
        e2e, counts = report.end_to_end(run, set())
        self.assertAlmostEqual(e2e["write_op_p50_s"], 0.4)
        self.assertAlmostEqual(e2e["read_op_p50_s"], 0.15)
        self.assertAlmostEqual(e2e["pass_s"], 0.55)  # median of 0.5 and 0.6
        self.assertEqual(e2e["rss_peak_mb"], 2.0)
        self.assertEqual((counts["write_samples"], counts["read_samples"]), (2, 2))

    def test_failed_runs_and_failed_checks_count(self):
        run = {"setup_s": 1.0, "vmhwm_kb": 1024, "ops": [
            op([], "a", 0, 100, kind="cold"), op([], "a", 100, 200),
            op([], "b", 200, 300, ok=False), op([], "c", 300, 400)]}
        e2e, counts = report.end_to_end(run, {"c"})
        self.assertEqual((counts["attempted"], counts["failed"]), (4, 2))
        self.assertEqual(e2e["op_fail_ratio"], 0.5)
        self.assertAlmostEqual(e2e["op_p50_s"], 0.1)  # only the good warm op


if __name__ == "__main__":
    unittest.main()
