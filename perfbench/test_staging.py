"""Stream staging is a pure function of the seed.

    python3 perfbench/test_staging.py

Stages both stream workloads from small stand-in pools, twice with one seed
and once with another, and compares the digests of the staged content. Its
scratch files go under the benchmark's build directory.
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import staging  # noqa: E402


class StagingTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        base = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        os.makedirs(base, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=base)
        cls.pools = {}
        for workload, pool in staging.POOLS.items():
            d = cls.pools[workload] = os.path.join(cls.tmp.name, workload)
            os.makedirs(d)
            for k in range(pool["files"]):
                values = ['{"trip_id": "%s-%d-%d"}' % (workload, k, i) for i in range(3)]
                pq.write_table(pa.table({"value": values}), os.path.join(d, staging.chunk_name(k)))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def staged(self, seed, workload, tag):
        out = os.path.join(self.tmp.name, f"{workload}-{seed}-{tag}")
        counts = staging.stage(seed, workload, 10, self.pools[workload], out)
        return staging.digest(out), counts

    def test_same_seed_same_content_other_seed_other_content(self):
        for workload in ("stream_backlog", "stream_paced"):
            with self.subTest(workload=workload):
                a, counts = self.staged(7, workload, "a")
                b, _ = self.staged(7, workload, "b")
                c, _ = self.staged(8, workload, "a")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)
                self.assertGreater(counts["late"], 0)
                self.assertGreater(counts["malformed"], 0)
                self.assertGreater(counts["out_of_order"], 0)


if __name__ == "__main__":
    unittest.main()
