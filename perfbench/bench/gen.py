"""Seeded input generators. The same seed always gives byte-identical
files: every random draw comes from a seeded numpy generator, numbers
are written with fixed formatting, and file times are fixed."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# File times of a backlog: the stream orders files by modification time.
BASE_MTIME = 1_600_000_000

WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _malformed(rng, x, y, label, pid):
    kind = rng.integers(4)
    if kind == 0:
        return f"{x:.6f},n/a,{label},{pid}"
    if kind == 1:
        return f"{x:.6f},{label},{pid}"
    if kind == 2:
        return f"{x:.6f},{y:.6f},{x:.6f},{label},{pid}"
    return ""


def backlog(directory, seed, n_files, points_per_file, clusters, sigma, drift,
            malformed_per_file):
    """Write `nodes2.txt` (two bootstrap points) and `n_files` CSV files
    of `x,y,label,id` lines in the reference shape. Cluster centres
    come from the seed and drift by `drift` per file. A fixed number of
    lines per file is malformed. Returns counts of what was written."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    centres = rng.uniform(0.0, 10.0, size=(clusters, 2))
    angles = rng.uniform(0.0, 2 * np.pi, size=clusters)
    velocity = drift * np.stack([np.cos(angles), np.sin(angles)], axis=1)
    seed_lines = [f"{centres[k, 0]:.6f},{centres[k, 1]:.6f},{k},{k}" for k in range(2)]
    _write(os.path.join(directory, "nodes2.txt"), seed_lines, BASE_MTIME)
    next_id = 2
    valid = malformed = 0
    for f in range(n_files):
        labels = rng.integers(clusters, size=points_per_file)
        xy = centres[labels] + rng.normal(0.0, sigma, size=(points_per_file, 2))
        bad = set(rng.choice(points_per_file, size=malformed_per_file, replace=False).tolist())
        lines = []
        for i in range(points_per_file):
            x, y, label = xy[i, 0], xy[i, 1], int(labels[i])
            if i in bad:
                lines.append(_malformed(rng, x, y, label, next_id))
                malformed += 1
            else:
                lines.append(f"{x:.6f},{y:.6f},{label},{next_id}")
                valid += 1
            next_id += 1
        _write(os.path.join(directory, f"b{f:05d}.csv"), lines, BASE_MTIME + 1 + f)
        centres = centres + velocity
    return {"files": n_files, "valid_points": valid, "malformed_lines": malformed}


def _write(path, lines, mtime):
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.utime(path, (mtime, mtime))


def fold_tables(directory, seed, n_events, n_docs):
    """Write `events.parquet` and `documents.parquet` with the schemas
    and value shapes of the repository's test tables."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    month_us = 30 * 24 * 3600 * 10**6
    start_us = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00
    ts = np.sort(rng.choice(month_us, size=n_events, replace=False)) + start_us
    users = max(15, int(n_events * 0.015))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(users, size=n_events, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(5, size=n_events)]),
        "value": pa.array(np.round(rng.exponential(60.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=n_events)]),
    })
    _write_parquet(events, os.path.join(directory, "events.parquet"))

    texts = []
    for d in range(n_docs):
        r = rng.random()
        if d > 0 and r < 0.002:
            texts.append(texts[rng.integers(d)])
        elif d > 0 and r < 0.008:
            texts.append(texts[rng.integers(d)] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[i] for i in rng.integers(len(WORDS), size=n)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    _write_parquet(documents, os.path.join(directory, "documents.parquet"))
    return {"events": n_events, "documents": n_docs}


def _write_parquet(table, path):
    pq.write_table(table, path)
    os.utime(path, (BASE_MTIME, BASE_MTIME))
