"""Batches and phase times from Structured Streaming progress events
(`StreamingQueryProgress.json`), as the benchmark's listener saw them."""

PHASES = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}


def batches(events, phase_ok, seed_rows=None):
    """Non-empty micro-batches of the runs whose phase label satisfies
    `phase_ok`, in (run, batch id) order of first appearance.

    Each event is {"phase": label, "p": progress}. Batches that read no
    rows are dropped. When `seed_rows` is given, the first non-empty
    batch of each run must read exactly that many rows and is dropped
    too: it is the bootstrap seed file, whose rows the stream filters
    out before the model sees them."""
    runs = {}
    order = []
    for ev in events:
        if not phase_ok(ev["phase"]):
            continue
        p = ev["p"]
        run = p["runId"]
        if run not in runs:
            runs[run] = {}
            order.append(run)
        runs[run][p["batchId"]] = (ev["phase"], p)
    out = []
    for run in order:
        first = True
        for bid in sorted(runs[run]):
            phase, p = runs[run][bid]
            rows = int(p.get("numInputRows", 0))
            if rows <= 0:
                continue
            if first and seed_rows is not None:
                first = False
                if rows != seed_rows:
                    raise ValueError(f"run {run}: first batch read {rows} rows, "
                                     f"expected the {seed_rows}-row seed file")
                continue
            first = False
            d = p.get("durationMs", {})
            rec = {"run": run, "phase": phase, "batch_id": bid, "rows": rows,
                   "ms": float(d.get("triggerExecution", 0)),
                   "start": p.get("timestamp")}
            for key, name in PHASES.items():
                rec[name] = float(d.get(key, 0))
            out.append(rec)
    return out
