"""Pure helpers that turn raw observations into benchmark metrics.

No I/O here, so each helper is unit-tested in perfbench/tests.
"""
import math


def percentile(values, q, min_beyond=0):
    """The q-th percentile (0..100), linearly interpolated between order
    statistics. With min_beyond > 0 the sample must put at least that many
    values beyond the percentile, e.g. 1000 values for p99 with 10 beyond;
    otherwise ValueError, because the tail would rest on a handful of
    samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if min_beyond and n * (100.0 - q) / 100.0 < min_beyond:
        raise ValueError(f"p{q} needs {min_beyond} samples beyond it; "
                         f"{n} samples give {n * (100.0 - q) / 100.0:.1f}")
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def file_latencies(batches, files):
    """Per-file latency from creation to the end of the micro-batch that
    carried it.

    batches: [(end_ms, rows)] in batch order; files: [(due_ms, rows)] in the
    order the source consumes them. Events map to batches in file order: the
    first batch's rows are the first files' rows, and so on. A file's latency
    is the end of the batch holding its last row minus its due time. Files
    past the last batch's rows are not returned."""
    out = []
    bi, consumed = 0, 0
    taken = 0
    for due, rows in files:
        taken += rows
        while bi < len(batches) and consumed + batches[bi][1] < taken:
            consumed += batches[bi][1]
            bi += 1
        if bi == len(batches):
            break
        out.append(batches[bi][0] - due)
    return out


def source_lag(batches, renamed):
    """Largest number of events published but not yet consumed at the end
    of a batch. batches: [(end_ms, rows)]; renamed: [(publish_ms, rows)]."""
    lag = 0
    done = 0
    for end, rows in batches:
        done += rows
        published = sum(r for t, r in renamed if t <= end)
        lag = max(lag, published - done)
    return lag


def retry_lateness(rows, backoff_ms):
    """Per retry hop, how late the retry was released: for consecutive hops
    k, k+1 of one key, nextAttemptAt(k+1) − backoff − nextAttemptAt(k).

    rows: (key, retry_count, next_attempt_ms) as found in the retry topic,
    requeued copies included (they repeat a hop's stamp). Hops of one key
    run from the highest remaining count down."""
    hops = {}
    for key, count, nxt in rows:
        hops.setdefault(key, {}).setdefault(count, nxt)
    out = []
    for by_count in hops.values():
        stamps = [by_count[c] for c in sorted(by_count, reverse=True)]
        out.extend(b - backoff_ms - a for a, b in zip(stamps, stamps[1:]))
    return out


def _union_length(intervals):
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


def self_times(spans):
    """Self time per layer: each span's duration minus the time covered by
    the union of its children (clipped to the span), summed by layer.

    spans: dicts with id, parent (None for a root), layer, start_ms, end_ms.
    Children may overlap (parallel Spark jobs); the union counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = _union_length([(max(a, c["start_ms"]), min(b, c["end_ms"]))
                                 for c in kids.get(s["id"], [])
                                 if c["end_ms"] > a and c["start_ms"] < b])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, (b - a) - covered)
    return out

