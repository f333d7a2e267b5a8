"""Statistics behind the benchmark's metrics (pure functions, unit-tested in
test_stats.py)."""
import math


def _rank(p, n):
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    epsilon absorbs float error, e.g. 99.9% of 10000)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def highest_percentile(n, beyond=10, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest of ``candidates`` that leaves at least ``beyond`` of ``n``
    samples above it, or None when even the median does not."""
    for p in candidates:
        if n - _rank(p, n) >= beyond:
            return p
    return None


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def attribute_lags(files, batches):
    """Lag of each landed stream file: from its due time to the commit of
    the micro-batch that read it.

    ``files``: dicts with ``name`` and ``due_ms``. ``batches``: dicts with
    ``commit_ms`` and ``files`` (names the batch read, from the source log).
    A file read by several batches (a retried batch) counts at its first
    commit. Returns ``(lags_by_name, missing)``: files no batch committed
    are missing and count as failed."""
    committed = {}
    for b in sorted(batches, key=lambda b: b["commit_ms"]):
        for name in b["files"]:
            committed.setdefault(name, b["commit_ms"])
    lags, missing = {}, []
    for f in files:
        c = committed.get(f["name"])
        if c is None:
            missing.append(f["name"])
        else:
            lags[f["name"]] = c - f["due_ms"]
    return lags, missing


def count_failures(ops, reference_ok, has_oracle):
    """Failures among timed query ops.

    An op fails if it threw, if its row digest differs from the digest of
    its query's checked reference output, or if that reference failed its
    check (``reference_ok[q]`` False: every op of ``q`` fails). For queries
    without oracle SQL the check is the row count: it must be positive and
    the same on every execution. Returns ``(attempted, failed)``."""
    ref = {}
    for o in ops:
        if o["error"] is None:
            ref[o["q"]] = o  # the last successful execution is the reference
    failed = 0
    for o in ops:
        r = ref.get(o["q"])
        bad = (o["error"] is not None or r is None
               or not reference_ok.get(o["q"], False)
               or o["rows"] != r["rows"])
        if not bad and has_oracle.get(o["q"], False):
            bad = o["digest"] != r["digest"]
        if not bad and not has_oracle.get(o["q"], False):
            bad = o["rows"] <= 0
        failed += bad
    return len(ops), failed


def stream_failures(files, missing, target_ok):
    """Failures among landed stream files: a file no micro-batch committed
    failed; if the final target differs from the batch recomputation, every
    file failed (the check cannot say which one was lost). Returns
    ``(attempted, failed)``."""
    attempted = len(files)
    return attempted, (attempted if not target_ok else len(missing))


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval covered by its children (overlapping children are merged).
    Returns ``{name: total_self_ms}``."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        t0, t1 = s["start_ns"], s["end_ns"]
        covered, cur = 0, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], t0), min(c["end_ns"], t1)
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        out[s["name"]] = out.get(s["name"], 0.0) + (t1 - t0 - covered) / 1e6
    return out
