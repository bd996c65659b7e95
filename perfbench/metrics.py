"""Metric math of the benchmark, kept free of I/O so it can be tested.

Times are epoch microseconds unless a name says otherwise.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10, floor=90.0):
    """The highest percentile with at least `beyond` samples past it.

    Returns (value, percentile, n_samples). When the sample is too small
    for that percentile to reach `floor` (fewer than 100 samples for the
    default p90), the maximum is returned as percentile 100: a cut at the
    median would not be a tail.
    """
    n = len(values)
    if n == 0:
        return 0.0, 100.0, 0
    xs = sorted(values)
    pos = n - 1 - beyond
    pct = 100.0 * (pos + 1) / n
    if pos < 0 or pct < floor:
        return xs[-1], 100.0, n
    return xs[pos], pct, n


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(window, jobs):
    """The part of `window` during which no job runs: its length minus
    the union of the job intervals clipped to it."""
    w0, w1 = window
    clipped = [(max(s, w0), min(e, w1)) for s, e in jobs]
    return (w1 - w0) - union_length(clipped)


def event_latencies(adds, batches):
    """Open-loop latency of every event: from the time it was due to the
    commit of the micro-batch that carried it.

    `adds`: one dict per source offset (MemoryStream add), in offset
    order, with `off`, `first`, `n` and `due` (a list of the due time of
    each of its events, or one due time for all). `batches`: dicts with
    `start_off` (exclusive), `end_off` (inclusive) and `commit_us`.
    Returns the latencies in microseconds; an event whose batch never
    committed is absent.
    """
    commit = {}
    for b in batches:
        for off in range(b["start_off"] + 1, b["end_off"] + 1):
            commit[off] = b["commit_us"]
    lats = []
    for a in adds:
        if a["off"] in commit:
            dues = a["due"] if isinstance(a["due"], list) else [a["due"]] * a["n"]
            lats += [commit[a["off"]] - d for d in dues]
    return lats


def paced_dues(t0, rate, first, n):
    """Due times of events first..first+n-1 of a phase paced at `rate`
    events/s from t0 (event j is due at t0 + j/rate)."""
    return [t0 + int(j * 1e6 / rate) for j in range(first, first + n)]


def backlog_grows(samples, rate, slack_s=0.5):
    """True when the backlog of the paced phase grows: the median backlog
    of its last third exceeds that of its first third by more than
    `slack_s` seconds of input. `samples` are (time, backlog) pairs."""
    if len(samples) < 6:
        return False
    k = len(samples) // 3
    head = median([b for _, b in samples[:k]])
    last = median([b for _, b in samples[-k:]])
    return last - head > slack_s * rate


def classify(lat, catalyst, run_s, cpu_s):
    """Where one query's time went, from its traced record. When its tasks
    ran at least as long as the query (on average one core or more busy),
    it is execution-bound: `cpu` when the tasks spent at least half their
    run time on CPU, `shuffle` when they mostly waited (on shuffle fetch
    and I/O). Otherwise the driver side dominates: `planning` when Catalyst
    takes at least half of the time the tasks do not cover, `dispatch`
    (job scheduling, driver work, per-round actions) when it does not."""
    if run_s >= lat:
        return "cpu" if cpu_s / run_s >= 0.5 else "shuffle"
    return "planning" if catalyst >= 0.5 * (lat - run_s) else "dispatch"
