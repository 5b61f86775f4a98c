"""Result checks that need an engine other than graft: DuckDB over the
raw parquet files.

The digest rules mirror `Digest.scala`: a row renders to its values in
column-name order, joined by U+001F; doubles and decimals render as the
hex of the IEEE bits of their value as a double, NaN as "nan", null as
"~", lists "[a,b]", structs "{a,b}". The digest is the sum
of the first 8 bytes of each row's SHA-256, modulo 2^64.
"""
import decimal
import hashlib
import math
import os
import struct

import duckdb


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        return "nan" if math.isnan(v) else format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(names, rows):
    """(rows, digest) of a result given its column names and row tuples."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")
    return len(rows), format(total % 2**64, "016x")


def run(con, sql):
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def connect(tmp):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp}'")
    return con


# Independent SQL for each dashboard template: raw `events` rows with an
# explicit time filter, no graft views or functions.
EVENTS = ("(SELECT event_id, user_id, event_type, value, props, epoch_ms(ts) AS time_ms "
          "FROM read_parquet('{lake}/events.parquet') "
          "WHERE epoch_us(ts) >= {begin} AND epoch_us(ts) < {end})")
LEVEL = ("CASE event_type WHEN 'error' THEN 2 WHEN 'signup' THEN 4 "
         "WHEN 'purchase' THEN 4 ELSE 5 END")
INDEPENDENT = {
    "log_stats": f"""
        SELECT time_ms - time_ms % 60000 AS time_bin_ms, {LEVEL} AS level,
               count(*)::BIGINT AS n
        FROM {EVENTS} GROUP BY ALL""",
    "measures": f"""
        WITH ev AS {EVENTS},
        b AS (SELECT event_type AS name,
                     least(greatest(floor(value / 10.0), 0), 49)::INTEGER AS bin FROM ev),
        g AS (SELECT name, bin, count(*)::BIGINT AS c FROM b GROUP BY ALL),
        grid AS (SELECT name, bin FROM (SELECT DISTINCT name FROM b), range(50) t(bin)),
        bins AS (SELECT grid.name, list(coalesce(g.c, 0)::BIGINT ORDER BY grid.bin) AS bins
                 FROM grid LEFT JOIN g USING (name, bin) GROUP BY grid.name)
        SELECT a.name, a.n, a.lo, a.hi, a.n AS h_count, bins.bins
        FROM (SELECT event_type AS name, count(*)::BIGINT AS n, min(value) AS lo,
                     max(value) AS hi FROM ev GROUP BY 1) a JOIN bins USING (name)""",
    "spans": f"""
        WITH e AS (SELECT event_id, event_type AS name, time_ms AS begin_ms,
                          lead(time_ms) OVER (ORDER BY time_ms, event_id) AS end_ms
                   FROM {EVENTS} WHERE user_id = {{pid}})
        SELECT event_id, name, begin_ms, end_ms, end_ms - begin_ms AS duration_ms
        FROM e WHERE end_ms IS NOT NULL
        ORDER BY duration_ms DESC, begin_ms, event_id LIMIT 10""",
    "errors": f"""
        SELECT time_ms, event_id, CAST(user_id AS VARCHAR) AS process_id,
               'event ' || event_id AS msg, props AS properties
        FROM {EVENTS} WHERE event_type = 'error'
        ORDER BY time_ms DESC, event_id DESC LIMIT 20""",
    "processes": f"""
        SELECT CAST(user_id AS VARCHAR) AS process_id, count(*)::BIGINT AS n_events,
               count(DISTINCT event_type)::BIGINT AS n_streams,
               min(time_ms) AS start_time_ms, max(time_ms) AS last_update_time_ms
        FROM {EVENTS} GROUP BY 1 ORDER BY n_events DESC, process_id LIMIT 10""",
}


def dashboard(lake, checks, tmp):
    """Mismatch messages for the sampled dashboard queries."""
    con = connect(tmp)
    bad = []
    for c in checks:
        sql = INDEPENDENT[c["template"]].format(lake=lake, begin=c["begin"], end=c["end"],
                                                pid=c["pid"])
        want = run(con, sql)
        if want != (c["rows"], c["digest"]):
            bad.append(f"dashboard query {c['id']} ({c['template']}): graft {c['rows']} rows "
                       f"{c['digest']}, independent {want[0]} rows {want[1]}")
    return bad


def ingest(lake, views, tmp):
    """The materialized log_stats counts must sum to the events rows."""
    con = connect(tmp)
    events = con.execute(
        f"SELECT count(*) FROM read_parquet('{lake}/events.parquet/*.parquet')").fetchone()[0]
    stats = con.execute(
        f"SELECT sum(count) FROM read_parquet('{views}/*/*.parquet')").fetchone()[0]
    if stats != events:
        return [f"ingest: log_stats counts sum to {stats}, events has {events} rows"]
    return []


def oracle(lake, sql, tmp):
    """(rows, digest) of an oracle query over the lake's tables."""
    con = connect(tmp)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(lake, t)}.parquet')")
    return run(con, sql)
