"""End-to-end and per-layer metrics of one run, from the raw record the
benchmark JVM writes (raw.json) and the runner's own checks."""
from . import progress, stats

FOLD_QUERIES = ("s23_stream_classifier", "s30_stream_unigram",
                "s08_stream_incremental_agg", "s36_stream_video_neardup")

END_TO_END = {
    "setup_s": "s", "points_per_s": "1/s", "batch_ms_p50": "ms",
    "batch_ms_tail": "ms", "pass_s": "s", "retained_heap_mb": "MB",
}

PER_LAYER = dict(
    [("streaming." + n, "ms") for n in progress.PHASES.values()]
    + [("streaming.batches", "count"), ("streaming.input_rows", "count"),
       ("streaming.jobs", "count"), ("streaming.result_bytes", "bytes"),
       ("streaming.batch_ms_growth", "ratio"),
       ("streaming.batch_ms_first_tenth", "ms"), ("streaming.batch_ms_last_tenth", "ms"),
       ("model.state_bytes", "bytes"), ("model.save_state_ms", "ms"),
       ("model.nodes", "count"), ("model.edges", "count"), ("model.update_ms", "ms"),
       ("operators.assign_ms", "ms")]
    + [(f"queries.{q}_s", "s") for q in FOLD_QUERIES]
    + [("queries.jobs", "count"), ("queries.stages", "count"), ("queries.tasks", "count"),
       ("queries.task_ms", "ms"), ("queries.shuffle_read_bytes", "bytes"),
       ("queries.shuffle_write_bytes", "bytes"), ("queries.result_bytes", "bytes"),
       ("queries.spill_bytes", "bytes"), ("trace.pass_s", "s")])


def measured_batches(raw):
    """The batches whose times make batch_ms, in arrival order."""
    if raw["workload"] == "gstream_backlog":
        return progress.batches(raw["progress"], lambda ph: ph == "measure", seed_rows=2)
    return progress.batches(raw["progress"], lambda ph: ph.startswith("pass"))


def end_to_end(raw, points):
    """Metric values plus the details the values need to be read."""
    batches = measured_batches(raw)
    times = [b["ms"] for b in batches]
    pct, tail_v, beyond = stats.tail(times)
    pass_s = raw["pass_s"]
    if raw["workload"] == "stream_folds":
        points = sum(b["rows"] for b in batches)
    values = {
        "setup_s": stats.median(raw["setup_s"]),
        "points_per_s": points / sum(pass_s) if pass_s and sum(pass_s) > 0 else 0.0,
        "batch_ms_p50": stats.median(times),
        "batch_ms_tail": tail_v,
        "pass_s": stats.median(pass_s),
        "retained_heap_mb": raw["heap_mb"],
    }
    detail = {"batches": len(times), "tail_percentile": pct, "tail_samples_beyond": beyond,
              "passes": len(pass_s), "points": points, "setup_reps": len(raw["setup_s"]),
              "pass_s_each": pass_s, "pass_cpu_s_each": raw.get("pass_cpu_s", [])}
    return values, detail


def per_layer(raw):
    """Per-layer values. A layer the workload does not use reads 0."""
    w = raw["workload"]
    out = {name: 0.0 for name in PER_LAYER}
    batches = measured_batches(raw)
    passes = max(1, len(raw["pass_s"]))
    jobs = raw.get("jobs", [])

    per = 1.0 / passes if w == "stream_folds" else 1.0
    for b in batches:
        for name in progress.PHASES.values():
            out["streaming." + name] += b[name] * per
    out["streaming.batches"] = len(batches) * per
    out["streaming.input_rows"] = sum(b["rows"] for b in batches) * per
    in_measure = (lambda s: s == "measure") if w == "gstream_backlog" \
        else (lambda s: s.startswith("pass"))
    sjobs = [j for j in jobs if j["stream_run"] and in_measure(j["scope"])]
    out["streaming.jobs"] = len(sjobs) * per
    out["streaming.result_bytes"] = sum(j["result_bytes"] for j in sjobs) * per
    ratio, first, last = stats.growth([b["ms"] for b in batches])
    out["streaming.batch_ms_growth"] = ratio
    out["streaming.batch_ms_first_tenth"] = first
    out["streaming.batch_ms_last_tenth"] = last

    for k, v in raw["layer"].items():
        if k in out:
            out[k] = float(v)

    if w == "stream_folds":
        for q in FOLD_QUERIES:
            out[f"queries.{q}_s"] = stats.median(
                [o["ms"] / 1000.0 for o in raw["ops"] if o.get("name") == q])
        qjobs = [j for j in jobs if j["scope"].startswith("pass")]
        for key in ("stages", "tasks", "task_ms", "shuffle_read_bytes",
                    "shuffle_write_bytes", "result_bytes", "spill_bytes"):
            out["queries." + key] = sum(j[key] for j in qjobs) / passes
        out["queries.jobs"] = len(qjobs) / passes

    out["trace.pass_s"] = stats.median(raw["pass_s"])
    return out
