"""Seeded input generators: everything a run sends to graft is made here
from the run's seed, and the JVM side reads only these files.

- dashboard.tsv: the `dashboard` query stream. Each line is
  phase, id, template, begin_us, end_us, process id, check flag, SQL.
  The stream is made of blocks that each hold every (template, window
  of 1 h, 6 h or 24 h) pair once, in seeded order. The seed also picks
  where each window lies inside the lake's 30 days (minute-aligned) and
  a process id out of the lake's processes (the process of a random
  event inside the window, so process-scoped templates usually have
  rows). About one query in ten is marked for the result check.
- headliners.tsv (traced runs only): a shuffled order of the 36
  headliners, the queries whose results are digested after the timed
  pass, and the committed row counts and digests.
- ingest.parquet: one-minute `events` batches of about 2k rows each,
  extending the lake past its last timestamp, over the lake's
  processes, with event ids continuing the lake's.
- kernel_docs.parquet, kernel_vecs.parquet: microbench inputs shaped
  like `documents` and `embeddings` (traced runs only).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import genlake

MINUTE_US = 60 * 10**6
HOUR_US = 60 * MINUTE_US
LAKE_START_US = int(genlake.LAKE_START.astype("int64"))
LAKE_END_US = LAKE_START_US + genlake.LAKE_DAYS * 24 * HOUR_US

TEMPLATES = {
    "log_stats":
        "SELECT time_bin_ms, level, CAST(SUM(count) AS BIGINT) AS n FROM log_stats "
        "GROUP BY time_bin_ms, level ORDER BY time_bin_ms, level",
    "measures":
        "WITH m AS (SELECT name, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi, "
        "graft_make_histogram(0.0, 500.0, 50, value) AS h FROM measures GROUP BY name) "
        "SELECT name, n, lo, hi, h.count AS h_count, h.bins AS bins FROM m ORDER BY name",
    "spans":
        "SELECT event_id, name, begin_ms, end_ms, duration_ms "
        "FROM view_instance('thread_spans', '{pid}') "
        "ORDER BY duration_ms DESC, begin_ms, event_id LIMIT 10",
    "errors":
        "SELECT time_ms, event_id, process_id, msg, properties FROM log_entries "
        "WHERE level <= 2 ORDER BY time_ms DESC, event_id DESC LIMIT 20",
    "processes":
        "SELECT process_id, n_events, n_streams, start_time_ms, last_update_time_ms "
        "FROM processes ORDER BY n_events DESC, process_id LIMIT 10",
}
WINDOWS_H = [1, 6, 24]
CHECK_SHARE = 0.1


def _events(lake):
    t = pq.read_table(os.path.join(lake, "events.parquet"), columns=["ts", "user_id"])
    return t["ts"].to_numpy().astype("int64"), t["user_id"].to_numpy()


def dashboard(out, seed, lake, n_run=4000):
    rng = np.random.default_rng(seed)
    ts, uid = _events(lake)
    n_proc = int(uid.max()) + 1

    def query(phase, i, template, hours):
        minutes = (LAKE_END_US - LAKE_START_US - hours * HOUR_US) // MINUTE_US
        begin = LAKE_START_US + int(rng.integers(0, minutes + 1)) * MINUTE_US
        end = begin + hours * HOUR_US
        lo, hi = np.searchsorted(ts, [begin, end])
        pid = int(uid[rng.integers(lo, hi)]) if hi > lo else int(rng.integers(0, n_proc))
        check = int(phase == "run" and rng.random() < CHECK_SHARE)
        sql = TEMPLATES[template].format(pid=pid)
        return f"{phase}\t{i}\t{template}\t{begin}\t{end}\t{pid}\t{check}\t{sql}"

    # every block of the stream holds each (template, window) pair once,
    # in seeded order, so every run sees the same mix
    pairs = [(t, h) for t in TEMPLATES for h in WINDOWS_H]
    lines = [query("warm", i, *p) for i, p in enumerate(pairs)]
    while len(lines) < n_run:
        for k in rng.permutation(len(pairs)):
            lines.append(query("run", len(lines), *pairs[k]))
    _text(out, "dashboard.tsv", lines)


def headliners(out, seed, expected, n_check=4):
    rng = np.random.default_rng(seed)
    names = sorted(expected)
    lines = [f"pass\t{','.join(rng.permutation(names))}"]
    lines.append(f"check\t{','.join(rng.choice(names, n_check, replace=False))}")
    lines += [f"expect\t{n}\t{e['rows']}\t{e['digest']}" for n, e in sorted(expected.items())]
    _text(out, "headliners.tsv", lines)


def ingest(out, seed, lake, n_batches=64, rows=2000):
    rng = np.random.default_rng(seed)
    ts, uid = _events(lake)
    n_proc = int(uid.max()) + 1
    first_id = len(ts)
    start = np.datetime64(LAKE_END_US, "us")
    parts = []
    for b in range(n_batches):
        n = int(rng.integers(rows - 100, rows + 101))
        cols = genlake.events(rng, n, n_proc, first_id=first_id,
                              start=start + np.timedelta64(b * MINUTE_US, "us"), span_us=MINUTE_US)
        parts.append(pa.table({"batch": pa.array(np.full(n, b, dtype=np.int32)), **cols}))
        first_id += n
    pq.write_table(pa.concat_tables(parts), os.path.join(out, "ingest.parquet"))


def kernels(out, seed, n_docs=20000, n_vecs=50000):
    rng = np.random.default_rng(seed)
    pq.write_table(pa.table(genlake.documents(rng, n_docs)),
                   os.path.join(out, "kernel_docs.parquet"))
    a, b = genlake.embeddings(rng, n_vecs), genlake.embeddings(rng, n_vecs)
    pq.write_table(pa.table({"a": a["embedding"], "b": b["embedding"]}),
                   os.path.join(out, "kernel_vecs.parquet"))


def _text(out, name, lines):
    with open(os.path.join(out, name), "w") as f:
        f.write("\n".join(lines) + "\n")
