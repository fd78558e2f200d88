"""Pure helpers of the benchmark report: percentiles, span trees and
open-loop latency. Unit-tested in perfbench/tests."""
import statistics


def percentile(values, p, beyond=10):
    """The p-th percentile (nearest rank) of `values`.

    Refuses (ValueError) when fewer than `beyond` samples lie above it,
    since such a tail is a handful of outliers, not a measurement."""
    n = len(values)
    if n == 0 or n * (100.0 - p) / 100.0 < beyond:
        raise ValueError(f"p{p} needs {beyond} samples beyond it; have {n} in all")
    s = sorted(values)
    rank = max(1, -(-p * n // 100))  # ceil(p·n/100)
    return s[int(rank) - 1]


def supported(values, p, beyond=10):
    """`percentile`, or None where the sample does not support it."""
    try:
        return percentile(values, p, beyond)
    except ValueError:
        return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def attach(spans, slack_ms=1.0):
    """Gives every span without a parent (parent == -1) the innermost other
    span that contains it, within `slack_ms` (listener times are whole
    milliseconds), and copies that span's request id. Mutates and returns
    `spans`, a list of dicts with id, name, start, end, parent, req."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] != -1:
            continue
        best = None
        for c in spans:
            longer = c["end"] - c["start"] - (s["end"] - s["start"])
            if c is s or longer < 0 or (longer == 0 and c["id"] > s["id"]):
                continue
            if c["start"] - slack_ms <= s["start"] and s["end"] <= c["end"] + slack_ms:
                if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                    best = c
        if best is not None:
            s["parent"] = best["id"]
    for s in spans:  # request ids flow down from the benchmark's spans
        p, seen = s, 0
        while not s["req"] and p["parent"] in by_id and seen < 64:
            p = by_id[p["parent"]]
            s["req"] = p["req"]
            seen += 1
    return spans


def self_times(spans, only=None):
    """Self time of each span: its duration minus the part of it that its
    children cover (children restricted to names in `only`, if given).
    Returns {span id: ms}."""
    kids = {}
    for s in spans:
        if only is None or s["name"] in only:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length([c for c in cover if c[1] > c[0]])
    return out


def batch_ends(progress):
    """Epoch-ms at which each micro-batch's sink finished: trigger start
    plus trigger time, minus the offset commit that follows the sink.
    Returns [(start offset, end offset, end ms)]."""
    out = []
    for p in progress:
        d = p["durations"]
        out.append((p["start_offset"], p["end_offset"],
                    p["start_ms"] + d.get("triggerExecution", 0) - d.get("commitOffsets", 0)))
    return out


def open_loop_latencies(chunks, batches):
    """Per-record latency (ms) from the record's DUE time to the end of the
    micro-batch that processed it. A chunk released at offset o belongs to
    the batch with start < o <= end. Its records were due at
    due_first_ms + k·step_ms, whenever the generator managed to send them,
    so a late generator or a stalled query shows up in the latency."""
    lat = []
    for c in chunks:
        end = next((e for s, f, e in batches if s < c["offset"] <= f), None)
        if end is None:
            raise ValueError(f"no batch processed offset {c['offset']}")
        lat.extend(end - (c["due_first_ms"] + k * c["step_ms"]) for k in range(c["n"]))
    return lat


def median(values):
    return statistics.median(values)
