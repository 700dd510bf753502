"""Self-tests of the benchmark's statistics and lag attribution.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import tempfile
import unittest

import benchlib as bl


class PercentileChoice(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        self.assertEqual(bl.min_samples(0.95), 182)
        self.assertEqual(bl.min_samples(0.5), 20)
        for q in (0.5, 0.95):
            n = bl.min_samples(q)
            self.assertGreaterEqual(bl.samples_beyond(n, q), 10)
            self.assertLess(bl.samples_beyond(n - 1, q), 10)

    def test_too_few_samples_refused(self):
        with self.assertRaises(bl.TooFewSamples):
            bl.quantile(range(181), 0.95)
        with self.assertRaises(bl.TooFewSamples):
            bl.quantile(range(19), 0.5)
        bl.quantile(range(182), 0.95)

    def test_beyond_counts_real_samples_above(self):
        xs = list(range(182))
        v = bl.quantile(xs, 0.95)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_interpolation(self):
        self.assertEqual(bl.quantile([1, 2, 3, 4], 0.5, beyond=0), 2.5)
        self.assertEqual(bl.quantile([10], 0.95, beyond=0), 10)
        self.assertEqual(bl.median([3, 1, 2]), 2)

    def test_failure_counts_beyond_any_limit(self):
        xs = [1.0] * 30 + [math.inf]
        self.assertEqual(bl.quantile(xs, 1.0, beyond=0), math.inf)
        self.assertEqual(bl.quantile(xs, 0.5, beyond=0), 1.0)


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))


def _checkpoint(root, offsets, entries, compact=None):
    """A query checkpoint in Spark's on-disk format: offsets/<batch> holds
    "v1", the batch metadata, then the file source's offset; sources/0/<n>
    holds "v1" then one JSON entry per file added in source log batch n."""
    for b, off in offsets.items():
        _write(f"{root}/offsets/{b}",
               ["v1", json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0}),
                json.dumps({"logOffset": off})])
    by_log = {}
    for f, lid in entries.items():
        by_log.setdefault(lid, []).append(
            json.dumps({"path": f"file:///land/{f}", "timestamp": 1, "batchId": lid}))
    for lid, lines in by_log.items():
        if compact is not None and lid <= compact:
            continue
        _write(f"{root}/sources/0/{lid}", ["v1"] + lines)
    if compact is not None:
        lines = [x for lid, ls in sorted(by_log.items()) if lid <= compact for x in ls]
        _write(f"{root}/sources/0/{compact}.compact", ["v1"] + lines)


class FileToBatch(unittest.TestCase):
    def test_no_data_batches_shift_batch_ids(self):
        # Batch 0 read the history (log 0); batch 1 was a no-data batch
        # (same logOffset); batch 2 read log 1, batch 3 read logs 2-3.
        with tempfile.TemporaryDirectory() as d:
            _checkpoint(d, {0: 0, 1: 0, 2: 1, 3: 3},
                        {"history.parquet": 0, "slice-00000.parquet": 1,
                         "slice-00001.parquet": 2, "slice-00002.parquet": 3})
            m = bl.file_batches(bl.source_log(d), bl.batch_offsets(d))
        self.assertEqual(m, {"history.parquet": 0, "slice-00000.parquet": 2,
                             "slice-00001.parquet": 3, "slice-00002.parquet": 3})

    def test_compacted_source_log(self):
        with tempfile.TemporaryDirectory() as d:
            _checkpoint(d, {0: 1, 1: 2}, {"a": 0, "b": 1, "c": 2}, compact=1)
            self.assertEqual(sorted(os.listdir(f"{d}/sources/0")), ["1.compact", "2"])
            m = bl.file_batches(bl.source_log(d), bl.batch_offsets(d))
        self.assertEqual(m, {"a": 0, "b": 0, "c": 1})

    def test_file_not_yet_read(self):
        self.assertEqual(bl.file_batches({"x": 5}, {0: 1}), {"x": None})


class DueTimeLag(unittest.TestCase):
    def test_lag_runs_from_due_time_not_landing_time(self):
        slices = [{"file": "s0", "due": 100.0, "landed": 130.0},
                  {"file": "s1", "due": 350.0, "landed": 351.0},
                  {"file": "s2", "due": 600.0, "landed": 600.5}]
        lags, missing = bl.visible_lags(slices, {"s0": 4, "s1": 4, "s2": 5},
                                        {4: 1100.0, 5: 2000.0})
        self.assertEqual(lags, [1000.0, 750.0, 1400.0])
        self.assertEqual(missing, [])

    def test_uncommitted_slice_is_reported(self):
        lags, missing = bl.visible_lags([{"file": "s0", "due": 0.0}], {"s0": None}, {})
        self.assertEqual((lags, missing), ([], ["s0"]))


if __name__ == "__main__":
    unittest.main()
