"""What the benchmark reads from outside the engine, and how it judges it.

Checkpoint and sink logs, the twin comparison, the on-time classification
of trickle rows, latency quantiles and span self times. Nothing here starts
Spark; parquet is read with DuckDB.
"""

import datetime
import json
import os
import statistics
from urllib.parse import unquote, urlparse

import duckdb

CENT = 0.005
PREMIUM = {"starter": False, "growth": True, "enterprise": True}


def _log_entries(path):
    """JSON lines of one Spark metadata log file (first line is the version)."""
    with open(path, encoding="utf-8") as f:
        return [json.loads(x) for x in f.read().split("\n")[1:] if x.strip()]


def _batch_files(d):
    """Batch id -> file name for a log directory, compact files included."""
    out = {}
    for n in (os.listdir(d) if os.path.isdir(d) else []):
        if n.startswith(".") or n.endswith(".tmp"):
            continue
        out[int(n.split(".")[0])] = n
    return out


def local_path(uri):
    return unquote(urlparse(uri).path)


def sink_batches(out_dir):
    """Ids of the batches the file sink committed."""
    return set(_batch_files(os.path.join(out_dir, "_spark_metadata")))


def sink_files(out_dir):
    """Parquet files of every batch the file sink committed."""
    d = os.path.join(out_dir, "_spark_metadata")
    files = set()
    for _, n in sorted(_batch_files(d).items()):
        for e in _log_entries(os.path.join(d, n)):
            if e.get("action", "add") == "add" and not e.get("isDir"):
                files.add(local_path(e["path"]))
    return sorted(files)


def checkpoint(chk):
    """Commit times, watermarks and the file -> batch map of a checkpoint.

    Returns (commits: batch -> commit mtime ms, offsets: batch -> watermark
    ms, starts: batch -> offset-log mtime ms, files: file name -> batch).
    The file source numbers its own log entries; a query batch takes in the
    entries up to the source offset its offset log records, so a batch that
    ran without new files (to move the watermark on) takes in none."""
    commits = {b: os.stat(os.path.join(chk, "commits", n)).st_mtime_ns / 1e6
               for b, n in _batch_files(os.path.join(chk, "commits")).items()}
    offsets, starts, upto = {}, {}, {}
    for b, n in _batch_files(os.path.join(chk, "offsets")).items():
        p = os.path.join(chk, "offsets", n)
        with open(p, encoding="utf-8") as f:
            lines = f.read().split("\n")
        offsets[b] = json.loads(lines[1])["batchWatermarkMs"]
        upto[b] = json.loads(lines[2])["logOffset"]
        starts[b] = os.stat(p).st_mtime_ns / 1e6
    files = {}
    src = os.path.join(chk, "sources", "0")
    for _, n in sorted(_batch_files(src).items()):
        for e in _log_entries(os.path.join(src, n)):
            batch = min((b for b, o in upto.items() if o >= e["batchId"]), default=None)
            if batch is not None:
                files[os.path.basename(local_path(e["path"]))] = batch
    return commits, offsets, starts, files


def final_watermark(batches, offsets):
    """Watermark of the last of `batches` (those the query committed, or
    whose output the sink committed): every window ending at or before it
    has been emitted."""
    return offsets[max(batches)] if batches else 0


def late_watermarks(offsets):
    """Batch -> the watermark its stateful operators drop late rows by:
    the one recorded for the batch before it (0 for the first batch)."""
    out, prev = {}, 0
    for b in sorted(offsets):
        out[b] = prev
        prev = offsets[b]
    return out


# ------------------------------------------------------------------ rows

def parse(line):
    """(event_id, event time in epoch ms) of a well-formed input line, else
    None."""
    try:
        rec = json.loads(line)
    except ValueError:
        return None
    if not isinstance(rec, dict) or not rec.get("event_time"):
        return None
    t = datetime.datetime.fromisoformat(rec["event_time"])
    return rec.get("event_id"), int(t.timestamp() * 1000)


def read_lines(path):
    with open(path, encoding="utf-8") as f:
        return f.read().split("\n")[:-1]


def input_counts(paths, late_wm_of=None):
    """Row accounting of input files, from the lines themselves: in,
    malformed, duplicate, late, kept. A well-formed row is late when its
    event time is at or before the watermark `late_wm_of` gives for its
    file name (None: no late rows); malformed lines stay in, since the
    pipeline drops them by itself. Also returns the on-time lines, in file
    order."""
    seen = set()
    c = dict.fromkeys(("in", "malformed", "duplicate", "late", "kept"), 0)
    on_time = []
    for p in paths:
        lines = read_lines(p)
        c["in"] += len(lines)
        wm = late_wm_of(os.path.basename(p)) if late_wm_of else None
        for x in lines:
            rec = parse(x)
            if rec is not None and wm is not None and rec[1] <= wm:
                c["late"] += 1
                continue
            on_time.append(x)
            if rec is None:
                c["malformed"] += 1
            elif rec[0] in seen:
                c["duplicate"] += 1
            else:
                seen.add(rec[0])
                c["kept"] += 1
    return c, on_time


def _ts(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def read_rows(paths, with_window_end=False):
    """Rows of a country-partitioned aggregate output, as plain tuples:
    (country, segment, event_date, max_event_time, unique_events,
    total_amount[, window_end])."""
    if not paths:
        return []
    cols = "country, segment, event_date, max_event_time, unique_events, total_amount"
    if with_window_end:
        cols += ", window_end"
    con = duckdb.connect()
    try:
        got = con.execute(
            f"SELECT {cols} FROM read_parquet(?, hive_partitioning = true)",
            [paths]).fetchall()
    finally:
        con.close()
    return [tuple(_ts(v) for v in r) for r in got]


def twin_closed(twin_rows, watermark_ms):
    """Twin rows of the windows a watermark closed, without window_end."""
    wm = datetime.datetime.fromtimestamp(watermark_ms / 1000, datetime.timezone.utc)
    wm = wm.replace(tzinfo=None).isoformat()
    return [r[:-1] for r in twin_rows if r[-1] <= wm]


def compare_rows(actual, expected):
    """Mismatches between two row lists, amounts (last field) to the cent
    and every other field exactly. Empty means equal."""
    def key(r):
        return tuple("" if v is None else str(v) for v in r[:-1]) + (r[-1],)
    a, e = sorted(actual, key=key), sorted(expected, key=key)
    bad = []
    if len(a) != len(e):
        bad.append(f"row count {len(a)} != {len(e)}")
    for x, y in zip(a, e):
        if x[:-1] != y[:-1] or abs((x[-1] or 0.0) - (y[-1] or 0.0)) >= CENT:
            bad.append(f"{x} != {y}")
            if len(bad) > 5:
                break
    return bad


def daily_rollup(rows, date):
    """The DailyBatch summary a twin implies for one run date:
    (event_date, country, is_premium, total_revenue)."""
    acc = {}
    for country, segment, day, _, _, amount in rows:
        if day != date:
            continue
        k = (day, country, PREMIUM.get(segment))
        acc[k] = acc.get(k, 0.0) + amount
    return [k + (v,) for k, v in acc.items()]


def read_daily(path):
    con = duckdb.connect()
    try:
        got = con.execute("SELECT event_date, country, is_premium, total_revenue "
                          "FROM read_parquet(?)", [path + "/*.parquet"]).fetchall()
    finally:
        con.close()
    return [tuple(_ts(v) for v in r) for r in got]


# --------------------------------------------------------------- timings

def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def latencies(due_ms, batch_of, commit_ms):
    """Per file: commit time of the batch that consumed it minus the time
    the file was due. Files never consumed or whose batch never committed
    come back in the second list."""
    lat, lost = [], []
    for name, due in due_ms.items():
        b = batch_of.get(name)
        if b is None or b not in commit_ms:
            lost.append(name)
        else:
            lat.append(commit_ms[b] - due)
    return lat, lost


def backlog(sent_ms, batch_of, starts):
    """Per batch: files already sent when its offsets were logged that no
    earlier batch consumed."""
    out = {}
    for b, t in starts.items():
        out[b] = sum(1 for n, s in sent_ms.items()
                     if s <= t and batch_of.get(n, b) >= b)
    return out


def self_times(spans):
    """Seconds of self time per layer: a span's duration minus that of its
    direct children. A span's parent is the innermost earlier span that
    encloses it."""
    ss = sorted(spans, key=lambda s: (s["start_ms"], -s["end_ms"]))
    child = [0.0] * len(ss)
    stack = []
    for i, s in enumerate(ss):
        while stack and ss[stack[-1]]["end_ms"] < s["end_ms"]:
            stack.pop()
        if stack:
            child[stack[-1]] += s["end_ms"] - s["start_ms"]
        stack.append(i)
    out = {}
    for s, c in zip(ss, child):
        own = max(0.0, s["end_ms"] - s["start_ms"] - c)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1000
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")
