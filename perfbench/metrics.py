"""Pure metric logic of the benchmark: percentiles, interval unions, driver
gap, span self time, result fingerprints, the streamed-dedup reference.
Unit-tested in test_metrics.py."""
import hashlib
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, never
    below the median. Returns (value, percentile, sample count)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    rank = max(n - 10, (n + 1) // 2)  # 1-based rank; n - rank samples lie beyond
    return s[rank - 1], 100.0 * rank / n, n


def union(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(t0, t1, jobs):
    """Operation wall not covered by any job: wall minus the union of job
    intervals inside it. Never negative, unlike wall minus summed jobs."""
    return (t1 - t0) - union(jobs, t0, t1)


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` maps id -> (parent, start, end)."""
    kids = {}
    for sid, (parent, s, e) in spans.items():
        kids.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union(kids.get(sid, []), s, e) for sid, (_, s, e) in spans.items()}


def attach_jobs(spans, jobs, next_id):
    """Adds each job as a child span of the innermost span whose interval
    contains the job's start. Returns the extended span map."""
    out = dict(spans)
    by_len = sorted(spans.items(), key=lambda kv: kv[1][2] - kv[1][1])
    for s, e in jobs:
        parent = next((sid for sid, (_, ps, pe) in by_len if ps <= s <= pe), None)
        if parent is not None:
            out[next_id] = (parent, s, e)
            next_id += 1
    return out


def reconcile_error(root, spans, job_ids):
    """|root wall - (summed self time of the non-job spans + union of
    each span's child jobs)| / root wall, over the subtree of `root`.
    Jobs are unioned unclipped: a job running past the span that started
    it, or a child outside its parent, shows up as error."""
    kids = {}
    for sid, (parent, _, _) in spans.items():
        kids.setdefault(parent, []).append(sid)
    selfs = self_times(spans)
    acc, stack = 0.0, [root]
    while stack:
        sid = stack.pop()
        acc += selfs[sid] + union([spans[k][1:] for k in kids.get(sid, []) if k in job_ids])
        stack.extend(k for k in kids.get(sid, []) if k not in job_ids)
    _, s, e = spans[root]
    return abs((e - s) - acc) / (e - s) if e > s else 0.0


def cell(v):
    """Canonical text of one result cell: floats by their shortest exact
    repr (an integer-valued float keeps its '.0', so int/float drift
    shows), nulls and NaN as one marker."""
    if v is None or (isinstance(v, float) and v != v):
        return "\\N"
    return repr(v) if isinstance(v, float) else str(v)


def fingerprint(columns, rows):
    """Order-insensitive (row count, md5 sum) of a result: columns are
    sorted by name, each row is md5-hashed, and the first 8 bytes of the
    digests are summed mod 2^64."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for r in rows:
        text = "\x1f".join(r[i] if type(r[i]) is str else cell(r[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")) % (1 << 64)
        n += 1
    return n, acc


def geomean(xs):
    """Geometric mean of positive values; 0.0 when there are none."""
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def growth_ratio(xs):
    """Mean of the last quarter over mean of the first quarter of a series."""
    q = max(1, len(xs) // 4)
    first = sum(xs[:q]) / q if xs else 0.0
    return (sum(xs[-q:]) / q) / first if first > 0 else 0.0



def screen_reference(batches, pairs):
    """Expected outcome of streamed near-dedup. `batches` lists each
    micro-batch's doc ids in arrival order; `pairs` are verified (a, b)
    near-duplicate pairs with a < b. A doc is quarantined when it pairs
    with a doc kept by an earlier batch or with an earlier doc of its own
    batch; its partner is the lowest kept one, else the lowest same-batch
    one. Returns {quarantined doc: partner} and the kept set."""
    earlier = {}
    for a, b in pairs:
        earlier.setdefault(b, []).append(a)
    kept, dups = set(), {}
    for ids in batches:
        here = set(ids)
        novel = set()
        for b in ids:
            cand = [(0 if a in kept else 1, a) for a in earlier.get(b, ())
                    if a in kept or (a in here and a < b)]
            if cand:
                dups[b] = min(cand)[1]
            else:
                novel.add(b)
        kept |= novel
    return dups, kept
