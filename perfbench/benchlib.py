"""Pure functions that turn a run's raw records into checks and metrics.

Kept free of I/O so the benchmark's own tests can drive them with
synthetic series (perfbench/tests/test_benchlib.py).
"""
import math

# Percentiles tried, highest first, when reporting a timing's tail.
TAIL_LADDER = (99.9, 99.0, 98.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def hd_quantile(values, q, grid=4000):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): every order
    statistic weighted by a Beta((n+1)q, (n+1)(1-q)) distribution, so
    the estimate moves smoothly where the sample median would jump
    across a gap between neighbouring values. The Beta CDF is integrated
    with the trapezoid rule on `grid` steps."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x) - lbeta)

    cdf = [0.0]
    for k in range(1, grid + 1):
        cdf.append(cdf[-1] + (pdf((k - 1) / grid) + pdf(k / grid)) / (2 * grid))

    def at(x):
        t = x * grid
        k = min(int(t), grid - 1)
        return (cdf[k] + (cdf[k + 1] - cdf[k]) * (t - k)) / cdf[-1]

    return sum(x * (at((i + 1) / n) - at(i / n)) for i, x in enumerate(xs))


def samples_beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(values):
    """(p, value) for the highest percentile of TAIL_LADDER that has at
    least MIN_BEYOND samples beyond it. With too few samples for any
    of them, the Harrell-Davis median is returned as (50.0, median)."""
    n = len(values)
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, hd_quantile(values, 0.5)


def tick_latencies(ticks, triggers):
    """Per-tick latency from the time the tick was due to the end of the
    first trigger that committed its offset.

    ticks: iterable of (offset, due_ms).
    triggers: iterable of (end_ms, end_offset) — one per trigger, the
    offset it committed through (offsets are the tick indexes).
    Returns {offset: latency_ms}; a tick no trigger committed is absent.
    """
    commits = sorted(triggers)
    out = {}
    pending = sorted(ticks)
    j = 0
    for end_ms, end_off in commits:
        while j < len(pending) and pending[j][0] <= end_off:
            off, due = pending[j]
            out[off] = end_ms - due
            j += 1
    return out


def lag_at_trigger_end(ticks, triggers):
    """Ticks appended but not yet committed when each trigger ended.

    ticks: iterable of (offset, added_ms).
    triggers: iterable of (end_ms, end_offset).
    """
    ticks = list(ticks)
    return [sum(1 for off, added in ticks if added <= end_ms and off > end_off)
            for end_ms, end_off in triggers]


def readback_gaps(records):
    """Problems with the offset store's read-back, as a list of strings
    (empty when the records form one gapless, contiguous chain).

    records: dicts with batch_id, start_offset, end_offset (strings,
    'none' or '' for an absent start)."""
    problems = []
    rs = sorted(records, key=lambda r: r["batch_id"])
    if not rs:
        return ["offset store read back no records"]
    for prev, cur in zip(rs, rs[1:]):
        if cur["batch_id"] != prev["batch_id"] + 1:
            problems.append(f"batch ids jump {prev['batch_id']} -> {cur['batch_id']}")
        elif str(cur["start_offset"]) != str(prev["end_offset"]):
            problems.append(f"batch {cur['batch_id']} starts at {cur['start_offset']}, "
                            f"batch {prev['batch_id']} ended at {prev['end_offset']}")
    return problems


def golden_mismatches(results, goldens):
    """Compare checked outputs to goldens.

    results: {name: (rows, hash)}; goldens: {name: {"rows", "hash"}}.
    Returns a list of (name, reason)."""
    bad = []
    for name, (rows, digest) in sorted(results.items()):
        g = goldens.get(name)
        if g is None:
            bad.append((name, "no golden recorded"))
        elif rows != g["rows"]:
            bad.append((name, f"rows {rows} != golden {g['rows']}"))
        elif digest != g["hash"]:
            bad.append((name, f"hash {digest} != golden {g['hash']}"))
    return bad


def sink_problems(sink):
    """Problems with the stream sink summary (empty when every planted
    pair landed exactly once per band and nothing else landed)."""
    problems = []
    if sink["found_planted"] != sink["planted"]:
        problems.append(f"found {sink['found_planted']} of {sink['planted']} planted pairs")
    if sink["unplanted_pairs"]:
        problems.append(f"{sink['unplanted_pairs']} pairs that were not planted")
    counts = {int(k): v for k, v in sink["pair_row_counts"].items()}
    if set(counts) - {sink["bands"]}:
        problems.append(f"pairs landed with row counts {sorted(counts)}, "
                        f"expected {sink['bands']} (one per band)")
    return problems
