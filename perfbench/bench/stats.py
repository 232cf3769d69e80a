"""Sample statistics and the streaming bookkeeping behind the metrics.

Pure functions over plain data, so the tests can feed them synthetic
progress events and source-log entries.
"""
import json
import math
import os
import statistics
from datetime import datetime, timezone


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """The p-th percentile by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_percentile(n, beyond=10):
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when even the median has fewer."""
    for p in range(99, 49, -1):
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def tail(values, p, beyond=10):
    """The p-th percentile, only if at least ``beyond`` samples lie beyond
    it; raises otherwise, so a thin tail is never reported as data."""
    top = highest_percentile(len(values), beyond)
    if top is None or p > top:
        raise ValueError(f"p{p} needs {math.ceil(beyond * 100 / (100 - p))} samples, "
                         f"have {len(values)}")
    return percentile(values, p)


def parse_ts_ms(ts):
    """Epoch milliseconds of a progress event's ISO-8601 UTC timestamp."""
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


def read_source_log(checkpoint):
    """File name → source-log batch id, from a file-stream checkpoint.

    Spark keeps one log file per batch and folds older ones into
    ``N.compact`` files; every entry carries its own ``batchId``.
    """
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in sorted(os.listdir(log_dir)):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def micro_batches(progress, source_log):
    """One record per micro-batch that read data: its id, trigger start and
    commit time (start plus trigger execution), and the files it covered.

    ``progress`` holds ``StreamingQueryProgress`` JSON objects; a batch
    covers the source-log batches in ``(startOffset, endOffset]``.
    """
    by_log = {}
    for f, b in source_log.items():
        by_log.setdefault(b, []).append(f)
    out = []
    for ev in sorted(progress, key=lambda e: (e["batchId"], parse_ts_ms(e["timestamp"]))):
        if not ev.get("numInputRows"):
            continue
        src = ev["sources"][0]
        lo = _log_offset(src.get("startOffset"))
        hi = _log_offset(src.get("endOffset"))
        files = [f for b in range(lo + 1, hi + 1) for f in by_log.get(b, [])]
        start = parse_ts_ms(ev["timestamp"])
        out.append({"batch": ev["batchId"], "start_ms": start,
                    "commit_ms": start + ev["durationMs"]["triggerExecution"],
                    "rows": ev["numInputRows"], "files": sorted(files), "event": ev})
    return out


def _log_offset(offset):
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def file_commits(batches):
    """File name → commit time of the micro-batch that covered it."""
    return {f: b["commit_ms"] for b in batches for f in b["files"]}


def latencies(landings, commits):
    """Due-to-commit latency (ms) of each landed file, in landing order;
    a file no batch covered has no latency and is returned apart."""
    lat, missing = [], []
    for ld in landings:
        c = commits.get(ld["file"])
        if c is None:
            missing.append(ld["file"])
        else:
            lat.append(c - ld["due_ms"])
    return lat, missing


def max_lag(landings, commits, t_from, t_to):
    """The most files landed but not yet committed at any instant in
    ``[t_from, t_to]``."""
    events = []
    for ld in landings:
        events.append((ld["landed_ms"], 1))
        c = commits.get(ld["file"])
        if c is not None:
            events.append((c, -1))
    lag = peak = 0
    for t, d in sorted(events, key=lambda e: (e[0], e[1])):
        lag += d
        if t_from <= t <= t_to:
            peak = max(peak, lag)
    return peak


def union_ms(intervals):
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
