#!/usr/bin/env python3
"""Repository benchmark: G-Stream backlog capacity and streaming folds,
measured end to end and per layer.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark from source with sbt. Each run generates its inputs from the
seed, runs one benchmark JVM on local[nproc], checks the outputs, and
prints a detail line and then one JSON result line. With --trace 0 the
result holds the end-to-end metrics; with --trace 1 it holds the
per-layer metrics and a span file is written. The exit code is 0 only
when every output check passed. See perfbench/README.md."""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

from bench import gen, metrics, oracle, trace  # noqa: E402

WORKLOADS = ("gstream_backlog", "stream_folds")
JVM_HEAP = "3g"
JVM_LIMIT_S = 160
BUILD_LIMIT_S = 840

# Workload parameters. Generated inputs depend only on these and the seed.
# --seconds sets a fixed amount of work, sized so that it takes about
# that long at the commit that defined the benchmark; the work, not the
# time, is the same on every commit.
WORK_PER_SECOND = {
    "gstream_backlog": ("files", 5.0),  # 200-point files drained
    "stream_folds": ("passes", 0.4),    # passes over the fold queries
}
PARAMS = {
    "gstream_backlog": {
        "points_per_file": 200, "clusters": 5, "sigma": 0.4,
        "drift": 0.02, "malformed_per_file": 2, "warm_files": 1, "warmup_files": 30,
        "decay_factor": 0.9, "lambda_age": 1.2, "nb_nodes_to_add": 8,
        "setup_reps": 3, "limit_s": 140,
    },
    "stream_folds": {"events": 20000, "documents": 1000, "setup_reps": 3,
                     "warmup_passes": 2},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(files, base):
    """SHA-256 over the files' paths relative to `base` and contents."""
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(base)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def source_digest(root):
    """Digest of everything the build reads, so a changed source rebuilds."""
    paths = [root / "build.sbt", root / "project" / "build.properties",
             BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for base in (root / "src" / "main", BENCH_DIR / "src"):
        paths += sorted(p for p in base.rglob("*") if p.is_file())
    return digest(paths, root)


def build(root, work_root):
    """Compile the library and the benchmark once per source digest and
    return the runtime classpath."""
    digest = source_digest(root)
    stamp, cp_file = work_root / "build.stamp", work_root / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    work_root.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH_DIR, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 3)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def generate(workload, seed, seconds, inputs):
    """Write the run's inputs and params.properties; return the
    parameters and the generator's counts."""
    p = dict(PARAMS[workload])
    key, rate = WORK_PER_SECOND[workload]
    p[key] = max(1, round(rate * seconds))
    inputs.mkdir(parents=True)
    if workload == "gstream_backlog":
        shape = dict(points_per_file=p["points_per_file"], clusters=p["clusters"],
                     sigma=p["sigma"], drift=p["drift"],
                     malformed_per_file=p["malformed_per_file"])
        info = gen.backlog(inputs / "backlog", seed, p["files"], **shape)
        for w in range(p["setup_reps"]):
            gen.backlog(inputs / f"warm{w}", seed * 31 + 7 + w, p["warm_files"], **shape)
        gen.backlog(inputs / "warmup", seed * 31 + 5, p["warmup_files"], **shape)
    else:
        info = gen.fold_tables(inputs, seed, p["events"], p["documents"])
    with open(inputs / "params.properties", "w") as fh:
        for k in sorted(p):
            fh.write(f"{k}={p[k]}\n")
    return p, info


def cpu_count():
    return len(os.sched_getaffinity(0))


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(classpath, run_dir, args, cpus):
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    # The serial collector runs no GC threads beside the application's,
    # so the JVM does not ask for more processors than local[nproc] uses.
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in JDK_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--work", str(run_dir),
              "--trace", str(args.trace),
              "--seed", str(args.seed), "--cpus", str(cpus)])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = BENCH_DIR.parent
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail(f"no library source next to the benchmark (expected {root}/build.sbt)", 2)
    work_root = BENCH_DIR / ".work"
    classpath = build(root, work_root)

    cpus = cpu_count()
    run_dir = work_root / f"run-{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    params, gen_info = generate(args.workload, args.seed, args.seconds, run_dir / "inputs")
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "params": params, "generated": gen_info,
        "inputs_sha256": digest(sorted(f for f in (run_dir / "inputs").rglob("*") if f.is_file()),
                                run_dir / "inputs"),
        "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(cpus)),
        "driver_heap": JVM_HEAP, "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }

    t0 = time.monotonic()
    code = run_jvm(classpath, run_dir, args, cpus)
    raw_path = run_dir / "raw.json"
    if code != 0 or not raw_path.is_file():
        log = (run_dir / "jvm.log").read_text(errors="replace").splitlines()
        sys.stderr.write("\n".join(log[-60:]) + "\n")
        fail(f"benchmark JVM failed (exit {code})", 4)
    raw = json.loads(raw_path.read_text())
    stamp["jvm"] = raw["jvm"]
    stamp["jvm_wall_s"] = round(time.monotonic() - t0, 3)

    checks = list(raw["checks"])
    if args.workload == "gstream_backlog":
        ok = raw["info"].get("valid_points") == gen_info["valid_points"]
        checks.append({"name": "replay_sees_generated_points", "ok": ok,
                       "detail": f"{raw['info'].get('valid_points')} vs {gen_info['valid_points']}"})
    if args.workload == "stream_folds":
        res = oracle.check(run_dir / "inputs", run_dir / "outputs", metrics.FOLD_QUERIES)
        checks += [{"name": f"oracle:{n}", "ok": ok, "detail": d} for n, (ok, d) in res.items()]

    points = raw["info"].get("valid_points", 0)
    e2e, e2e_detail = metrics.end_to_end(raw, points)
    if args.workload == "gstream_backlog":
        attempted = params["files"]
        failed = attempted - raw["info"].get("batches_applied", 0)
    else:
        attempted = len(raw["ops"])
        failed = sum(1 for o in raw["ops"] if not o["ok"])
    # an output check that fails counts as one failed operation
    attempted += len(checks)
    failed += sum(1 for c in checks if not c["ok"])
    correct = failed == 0

    if args.trace:
        layer = metrics.per_layer(raw)
        spans = trace.rebuild(raw.get("spans", []), raw["progress"], raw.get("jobs", []))
        trace_path = work_root / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace_path.parent.mkdir(parents=True, exist_ok=True)
        trace_path.write_text(json.dumps({
            "stamp": stamp, "self_ms_by_layer": trace.self_times_ms(spans),
            "per_layer": layer, "end_to_end_under_tracing": e2e, "spans": spans}))
        out_metrics = {k: {"value": layer[k], "unit": u} for k, u in metrics.PER_LAYER.items()}
    else:
        trace_path = None
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in metrics.END_TO_END.items()}

    detail = {"stamp": stamp, "end_to_end_detail": e2e_detail, "info": raw["info"],
              "error_share": failed / attempted if attempted else 0.0,
              "checks": checks, "trace_file": str(trace_path.relative_to(root)) if trace_path else None}
    results = work_root / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"detail": detail, "metrics": out_metrics}, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
