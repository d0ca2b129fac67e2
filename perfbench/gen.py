"""Seeded load generator for the stream workloads.

It writes dirty JSON-lines event files shaped like the reference producer's
payload: null ``amount`` at p=0.1, null ``country`` at p=1/6, ``device`` in
several spellings including null. On top of that it adds exact re-sends
(p=0.05, like Kafka redelivery), malformed lines and a skewed country mix.
The same seed gives byte-identical files.

It runs as its own single-threaded process. ``stage`` writes every file
before a clock starts; ``trickle`` then only renames pre-staged files into
the watched directory on a fixed schedule and logs when each one was due
and when it was sent.

    python3 perfbench/gen.py stage <workload> <seed> <dir> <seconds>
    python3 perfbench/gen.py trickle <staged_dir> <watched_dir> <log>
"""

import json
import os
import random
import sys
import time

WATERMARK_MS = 30_000
DAY_MS = 86_400_000
# 2024-03-01T00:00:00Z
EPOCH_MS = 1_709_251_200_000

# skewed country mix; lower case where the pipeline's upper() must fix it
COUNTRIES = ["US"] * 10 + ["IN"] * 5 + ["DE"] * 3 + ["us", "in", "BR", "JP"]
DEVICES = ["MOBILE", "mobile ", "DESKTOP", " Tablet", None]
MALFORMED = ['{"event_id":"evt_', "not json at all", '{"user_id":3,"amount":',
             "", "<<<corrupt>>>"]

P_NULL_AMOUNT = 0.1
P_NULL_COUNTRY = 1 / 6
P_DUPLICATE = 0.05
P_MALFORMED = 0.02

# stream_drain: one backlog over several event-time days, and a smaller one
# that warms the JVM up
DRAIN = {"rows": 300_000, "files": 8, "days": 2, "warm_rows": 40_000}
# stream_trickle: `files` are renamed in one by one, `interval_ms` apart;
# event time advances `speedup` times faster than the wall clock
TRICKLE = {"rows_per_file": 10, "interval_ms": 50, "speedup": 10,
           "disorder_ms": 8_000, "p_late": 0.03, "warm_files": 80,
           "backlog_rows": 3_000}


def iso(ms):
    s, milli = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + ".%03dZ" % milli


class Events:
    """Draws events, re-sends and malformed lines from one seeded stream."""

    def __init__(self, seed, prefix="evt"):
        self.rng = random.Random(seed)
        self.prefix = prefix
        self.n = 0
        self.sent = []          # lines of recent events, for re-sends

    def event(self, t_ms):
        r = self.rng
        self.n += 1
        eid = "%s_%08x_%d" % (self.prefix, r.getrandbits(32), self.n)
        amount = None if r.random() < P_NULL_AMOUNT else round(r.uniform(5, 200), 2)
        country = None if r.random() < P_NULL_COUNTRY else r.choice(COUNTRIES)
        rec = {"event_id": eid, "user_id": r.randint(1, 5),
               "product_id": r.randint(1, 8), "amount": amount,
               "event_time": iso(t_ms), "country": country,
               "device": r.choice(DEVICES)}
        line = json.dumps(rec, separators=(",", ":"))
        self.sent.append(line)
        if len(self.sent) > 4096:
            del self.sent[:2048]
        return line

    def line(self, t_ms, resend_span=64):
        """One input line: a malformed one, a re-send of a recent event,
        or a fresh event at `t_ms`."""
        r = self.rng
        x = r.random()
        if x < P_MALFORMED:
            return r.choice(MALFORMED)
        if x < P_MALFORMED + P_DUPLICATE and self.sent:
            return self.sent[-1 - r.randrange(min(resend_span, len(self.sent)))]
        return self.event(t_ms)


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def drain_lines(seed, rows, span, start_ms, prefix="evt"):
    ev = Events(seed, prefix)
    # event time walks forward with bounded jitter across `days` days
    return [ev.line(start_ms + i * span // rows + ev.rng.randrange(5_000))
            for i in range(rows)]


def stage_drain(seed, root):
    c = DRAIN
    # the warm-up backlog: on the day before, with its own event ids
    os.makedirs(os.path.join(root, "warm"))
    write_lines(os.path.join(root, "warm", "part-00000.json"),
                drain_lines(seed + 1, c["warm_rows"], DAY_MS, EPOCH_MS - DAY_MS, "wrm"))
    lines = drain_lines(seed, c["rows"], c["days"] * DAY_MS, EPOCH_MS)
    os.makedirs(os.path.join(root, "main"))
    per = -(-c["rows"] // c["files"])
    names = []
    for i in range(c["files"]):
        fn = "part-%05d.json" % i
        write_lines(os.path.join(root, "main", fn), lines[i * per:(i + 1) * per])
        names.append(fn)
    return {"workload": "stream_drain", "warm": "warm",
            "backlogs": {"main": {"dir": "main", "rows": c["rows"], "files": names}}}


def trickle_files(seed, files):
    """Per file: its lines. Event time of file i starts at
    i * interval * speedup; rows carry bounded disorder, a late share sits
    far behind the watermark, and re-sends reach both inside and beyond
    it."""
    c = TRICKLE
    ev = Events(seed)
    r = ev.rng
    step = c["interval_ms"] * c["speedup"]
    # start 45 s before midnight: the windows the run closes then always
    # fall on two event dates
    t0 = EPOCH_MS + DAY_MS - 45_000
    out = []
    for i in range(c["warm_files"] + files):
        lines = []
        for j in range(c["rows_per_file"]):
            front = t0 + i * step + j * step // c["rows_per_file"]
            if r.random() < c["p_late"]:
                t = front - WATERMARK_MS - r.randrange(10_000, 60_000)
                lines.append(ev.event(t))
            else:
                lines.append(ev.line(front - r.randrange(c["disorder_ms"]),
                                     resend_span=600))
        out.append(lines)
    return out


def stage_trickle(seed, root, seconds):
    """Warm-up files, then `seconds` worth of measured ones."""
    c = TRICKLE
    staged = os.path.join(root, "staged")
    os.makedirs(staged)
    files = []
    for i, lines in enumerate(trickle_files(seed, seconds * 1000 // c["interval_ms"])):
        fn = "tick-%05d.json" % i
        write_lines(os.path.join(staged, fn), lines)
        files.append({"name": fn, "rows": len(lines),
                      "due_offset_ms": i * c["interval_ms"],
                      "warm": i < c["warm_files"]})
    # a backlog already in the watched directory when the query starts: its
    # first, cold batch drains it, over the four hours before the ticks
    backlog = drain_lines(seed + 1, c["backlog_rows"], 4 * 3_600_000,
                          EPOCH_MS + DAY_MS - 4 * 3_600_000 - 600_000, prefix="blg")
    os.makedirs(os.path.join(root, "in"))
    write_lines(os.path.join(root, "in", "backlog.json"), backlog)
    return {"workload": "stream_trickle", "staged": "staged", "watched": "in",
            "files": files, "interval_ms": c["interval_ms"],
            "backlog": {"name": "backlog.json", "rows": len(backlog)}}


def stage(workload, seed, root, seconds):
    os.makedirs(root, exist_ok=True)
    if workload == "stream_drain":
        m = stage_drain(seed, root)
    elif workload == "stream_trickle":
        m = stage_trickle(seed, root, seconds)
    else:
        raise SystemExit("unknown workload: " + workload)
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


def trickle(staged, watched, log_path):
    """Waits for a start time (epoch ms) on stdin, then renames file i into
    `watched` when it is due, at start + due_offset_ms. Logs due and sent
    times, one JSON object per file, once the schedule is done."""
    with open(os.path.join(os.path.dirname(staged), "manifest.json")) as f:
        files = json.load(f)["files"]
    start_ms = int(sys.stdin.readline())
    log = []
    for f in files:
        due = start_ms + f["due_offset_ms"]
        wait = due / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staged, f["name"]), os.path.join(watched, f["name"]))
        log.append({"name": f["name"], "due_ms": due, "sent_ms": time.time() * 1000})
    with open(log_path, "w") as out:
        json.dump(log, out)


if __name__ == "__main__":
    if len(sys.argv) == 6 and sys.argv[1] == "stage":
        stage(sys.argv[2], int(sys.argv[3]), sys.argv[4], int(sys.argv[5]))
    elif len(sys.argv) == 5 and sys.argv[1] == "trickle":
        trickle(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        raise SystemExit(__doc__)
