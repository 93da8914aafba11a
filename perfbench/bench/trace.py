"""Spans of a traced run: the ones the benchmark recorded around its
calls into each layer, plus child spans rebuilt from streaming progress
events and Spark job start and end times. Self time of a span is its
duration minus the part of it that its children cover."""
from datetime import datetime, timezone

from .progress import PHASES

# Order in which a micro-batch runs its phases, used to lay the
# rebuilt phase spans out inside the batch span.
PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
               "addBatch", "commitOffsets")


def _epoch_us(iso):
    dt = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


def rebuild(spans, progress_events, jobs):
    """Return all spans: recorded ones, one per progress event that ran
    a batch (with its phases as children), and one per Spark job. A
    rebuilt span's parent is the innermost recorded span that contains
    its start."""
    spans = [dict(s) for s in spans]
    next_id = max([s["id"] for s in spans] + [0]) + 1
    recorded = sorted(spans, key=lambda s: s["end_us"] - s["start_us"])

    def parent_of(t):
        for s in recorded:  # shortest first = innermost
            if s["start_us"] <= t <= s["end_us"] and s["layer"] != "check":
                return s["id"]
        return 0

    batch_spans = []  # (query id, start, end, span id)
    for ev in progress_events:
        p = ev["p"]
        d = p.get("durationMs", {})
        if int(p.get("numInputRows", 0)) <= 0 or "triggerExecution" not in d:
            continue
        start = _epoch_us(p["timestamp"])
        end = start + int(d["triggerExecution"]) * 1000
        bid = next_id
        next_id += 1
        spans.append({"id": bid, "parent": parent_of(start), "name": f"batch{p['batchId']}",
                      "layer": "streaming.batch", "start_us": start, "end_us": end})
        batch_spans.append((p["id"], start, end, bid))
        t = start
        for ph in PHASE_ORDER:
            if ph in d:
                spans.append({"id": next_id, "parent": bid, "name": PHASES[ph],
                              "layer": "streaming." + ph, "start_us": t,
                              "end_us": t + int(d[ph]) * 1000})
                next_id += 1
                t += int(d[ph]) * 1000
    for j in jobs:
        if j["end_ms"] < 0:
            continue
        start = j["start_ms"] * 1000
        parent = next((b for q, a, e, b in batch_spans
                       if q == j["stream_run"] and a <= start <= e), None)
        spans.append({"id": next_id, "parent": parent or parent_of(start), "name": f"job{j['job']}",
                      "layer": "spark.job", "start_us": start, "end_us": j["end_ms"] * 1000})
        next_id += 1
    return spans


def covered(interval, children):
    """Length of the part of `interval` covered by the union of the
    children's intervals."""
    lo, hi = interval
    parts = sorted((max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a))
    total = 0
    cur_a = cur_b = None
    for a, b in parts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times_ms(spans):
    """Total self time per layer, in milliseconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        iv = (s["start_us"], s["end_us"])
        own = (iv[1] - iv[0]) - covered(iv, kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1000.0
    return out
