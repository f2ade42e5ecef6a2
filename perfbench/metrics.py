"""Pure helpers for run.py: percentiles with sample counts, file source
logs, and per-tick latency attribution. No Spark, no I/O beyond reading
a checkpoint's source log."""

import json
import os


def percentile(values, q):
    """Linear-interpolated percentile (`q` in [0, 100]) and the number
    of samples it was taken over. Returns (None, 0) for no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def slope(xs, ys):
    """Least-squares slope of ys against xs; None below two distinct xs."""
    n = len(xs)
    if n < 2:
        return None
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return None
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def read_source_log(checkpoint):
    """{file base name: batch id} from a file-source checkpoint log
    (`<checkpoint>/sources/0/<n>` and compacted `<n>.compact` files;
    each entry line is a JSON object carrying `path` and `batchId`)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def batch_ends(triggers, query_id):
    """{batch id: end epoch ms} of one query's executed microbatches,
    from its progress events (trigger start + trigger duration)."""
    return {t["batch"]: t["start_ms"] + t["trigger_ms"]
            for t in triggers if t["query"] == query_id}


def delivery(name, file_batches, ends):
    """When file `name` was delivered: the end of the later of the sink
    batches that read it, as (end epoch ms, (query index, batch id)),
    or None while some sink query has not committed it.

    file_batches: [ {file name: batch id} per sink query ]
    ends:         [ {batch id: batch end epoch ms} per sink query ]"""
    done = []
    for i, (fb, en) in enumerate(zip(file_batches, ends)):
        b = fb.get(name)
        if b is None or b not in en:
            return None
        done.append((en[b], (i, b)))
    return max(done)


def attribute_latency(files, sent_ms, file_batches, ends):
    """Per-tick latency in ms: from the scheduled send time of a tick's
    file to its delivery (see `delivery`).

    files:   {file name: number of ticks in it}
    sent_ms: {file name: scheduled send time, epoch ms}

    Returns (samples, number of ticks never delivered); each sample is
    (latency, (query index, batch id)) naming the batch that completed
    the delivery."""
    samples, undelivered = [], 0
    for name, n in sorted(files.items()):
        d = delivery(name, file_batches, ends)
        if d is None:
            undelivered += n
        else:
            samples += [(d[0] - sent_ms[name], d[1])] * n
    return samples, undelivered


def batches_beyond(samples, threshold):
    """Number of distinct batches that completed a delivery slower than
    `threshold` (samples as returned by attribute_latency)."""
    return len({b for v, b in samples if v > threshold})
