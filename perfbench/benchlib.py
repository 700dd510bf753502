"""Pure helpers of the benchmark: percentiles, the file -> micro-batch map
read from a query checkpoint, visible-lag attribution and the metric
summaries.  Kept free of I/O beyond reading checkpoint files so the
self-tests in test_benchlib.py can pin them."""
import json
import math
import os

# A reported percentile needs this many samples above it, or it is not
# reported as measured.
MIN_BEYOND = 10


def samples_beyond(n, q):
    """Samples ranked strictly above the q-quantile position of n samples
    (linear interpolation between closest ranks, position q * (n - 1))."""
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def min_samples(q, beyond=MIN_BEYOND):
    """Smallest sample count with at least `beyond` samples above the
    q-quantile."""
    n = 1
    while samples_beyond(n, q) < beyond:
        n += 1
    return n


class TooFewSamples(ValueError):
    pass


def quantile(values, q, beyond=MIN_BEYOND):
    """q-quantile by linear interpolation between closest ranks.  Refuses
    (TooFewSamples) when fewer than `beyond` samples lie above it; a
    failed operation is passed in as +inf and counts as beyond any limit."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or samples_beyond(n, q) < beyond:
        raise TooFewSamples(f"q={q}: {n} samples, need {min_samples(q, beyond)}")
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    if xs[hi] == math.inf:
        return xs[lo] if pos == lo else math.inf
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


# ---- query checkpoint: landed file -> micro-batch --------------------------

def _log_lines(path):
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip() and x.strip() != "-"]


def source_log(ckpt, source=0):
    """File basename -> file-source log id, from `sources/<n>/` (plain and
    `.compact` log files; entries carry their own log batch id)."""
    d = os.path.join(ckpt, "sources", str(source))
    out = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        for e in _log_lines(os.path.join(d, name)):
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_offsets(ckpt, source=0):
    """Micro-batch id -> the file-source `logOffset` it read up to, from
    `offsets/<batchId>` (line 1 is the batch metadata, then one offset per
    source)."""
    d = os.path.join(ckpt, "offsets")
    out = {}
    for name in os.listdir(d):
        if not name.isdigit():
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()
        off = lines[2 + source].strip()
        if off and off != "-":
            out[int(name)] = int(json.loads(off)["logOffset"])
    return out


def file_batches(log_ids, offsets):
    """Map each file to the micro-batch that read it: the first batch whose
    logOffset reaches the file's log id.  Batch ids and log ids differ once
    a query runs no-data batches (they repeat the previous logOffset), so
    the two are never assumed equal."""
    order = sorted(offsets.items())
    out = {}
    for f, lid in log_ids.items():
        out[f] = next((b for b, off in order if off >= lid), None)
    return out


def visible_lags(slices, batch_of, commit_end):
    """One lag per landed slice for one table: the slice's due time to the
    end of the upsert that committed the batch reading it.  Returns
    (lags, unattributed slice files)."""
    lags, missing = [], []
    for s in slices:
        b = batch_of.get(s["file"])
        end = commit_end.get(b)
        if end is None:
            missing.append(s["file"])
        else:
            lags.append(end - s["due"])
    return lags, missing

