#!/usr/bin/env python3
"""Benchmark of the deployed stream path, end to end and layer by layer.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. It builds the engine and the
harness (perfbench/build.sbt) when their sources changed, stages seeded
input with gen.py, drives one harness JVM (Harness.scala) through the
workload, checks every output against the batch twin, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the spans land in .perfbench/<workload>/spans.json.

Workloads:
  stream_drain    a backlog of dirty JSON-lines files drained by
                  Trigger.AvailableNow, then DailyBatch over every run date
  stream_trickle  an open loop: files renamed into the watched directory on
                  a fixed schedule, a ProcessingTime query consuming them
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import checks
from harness import (HERE, ROOT, Harness, Tally, build, cores, exec_delta,
                     exec_layers, log)

WORK = os.path.join(ROOT, ".perfbench")
GEN = os.path.join(HERE, "gen.py")

TRIGGER_MS = 3000
MIN_DRAINS = 2
# a trace-mode drain run mixes traced and untraced drains
MIN_TRACED_DRAINS = 3
# DailyBatch runs after the clock: once in a plain run, for the check, and
# in rounds in a traced run, for the daily.* medians
TRACED_DAILY_ROUNDS = 2


# ---------------------------------------------------------------- helpers

def stage(workload, seed, root, seconds=0):
    subprocess.check_call([sys.executable, GEN, "stage", workload, str(seed), root,
                           str(seconds)], stdout=sys.stderr)
    with open(os.path.join(root, "manifest.json")) as f:
        return json.load(f)


def invariant_problems(stream, counts):
    """Checks the row accounting: the lines satisfy in = kept + malformed +
    duplicate + late, and the query's own counters agree with them. The
    query reads every line and drops exactly the late rows; its dedup keeps
    or drops every other row. Malformed rows reach the dedup too, all with a
    null event_id, so it keeps between none and all of them."""
    c, bad = counts, []
    if c["in"] != c["kept"] + c["malformed"] + c["duplicate"] + c["late"]:
        bad.append("row invariant broken: %s" % c)
    for k in ("in", "late"):
        if stream["rows_" + k] != c[k]:
            bad.append("query read rows_%s=%s, the input has %s" % (k, stream["rows_" + k], c[k]))
    if stream["rows_kept"] + stream["rows_duplicate"] != c["in"] - c["late"]:
        bad.append("dedup kept %(rows_kept)s and dropped %(rows_duplicate)s" % stream
                   + ", not the %d on-time rows" % (c["in"] - c["late"]))
    if not c["kept"] <= stream["rows_kept"] <= c["kept"] + c["malformed"]:
        bad.append("dedup kept %s rows, the input has %s distinct events" % (
            stream["rows_kept"], c["kept"]))
    return bad


def output_problems(out_dir, chk, twin_rows):
    """Compares a sink's committed output with the twin restricted to the
    windows the query's final watermark closed; returns (the expected rows,
    the mismatches)."""
    commits, offsets, _, _ = checks.checkpoint(chk)
    done = set(commits) | checks.sink_batches(out_dir)
    expected = checks.twin_closed(twin_rows, checks.final_watermark(done, offsets))
    actual = checks.read_rows(checks.sink_files(out_dir))
    return expected, checks.compare_rows(actual, expected)


def read_twin(twin_dir):
    return checks.read_rows(
        [os.path.join(d, n) for d, _, ns in os.walk(twin_dir) for n in ns
         if n.endswith(".parquet")], with_window_end=True)


def run_dailies(jvm, out_dir, daily_dir):
    """DailyBatch over every run date in the sink output; returns the total
    seconds, the summarize seconds (traced runs only) and the rows written."""
    dates = sorted({r[2] for r in checks.read_rows(checks.sink_files(out_dir))})
    total = summ = rows = 0
    for d in dates:
        r = jvm.call("daily", out_dir, d, daily_dir)
        total += r["s"]
        summ += r["summarize_s"]
        rows += r["rows"]
    return total, summ, rows


def check_dailies(daily_dir, expected, tally):
    """Each DailyBatch output against the rollup of the twin's rows."""
    for day in sorted({r[2] for r in expected}):
        path = os.path.join(daily_dir, "metrics_%s.parquet" % day)
        got = checks.read_daily(path) if os.path.isdir(path) else None
        tally.ops(1, ["no DailyBatch output for %s" % day] if got is None else
                  checks.compare_rows(got, checks.daily_rollup(expected, day)))


def wait_committed(chk, names):
    """Returns once a committed batch has consumed every named file, or
    after a minute; the files left over then count as failed."""
    end = time.time() + 60
    while time.time() < end:
        commits, _, _, batch_of = checks.checkpoint(chk)
        if all(batch_of.get(n) in commits for n in names):
            return
        time.sleep(0.05)


def progress_by_query(progress):
    by = {}
    for p in progress:
        by.setdefault(p["runId"], []).append(p)
    return list(by.values())


def stream_layers(queries):
    """stream.* and state.* from the progress of the traced queries:
    durations are medians over data batches, counts and state work are per
    query (median over queries), state sizes are maxima."""
    out = {}
    data = [p for q in queries for p in q if p["numInputRows"] > 0]
    d = lambda k: checks.median([p["durationMs"].get(k, 0) for p in data])
    out.update({"stream.batches": checks.median([len(q) for q in queries]),
                "stream.batch_ms_p50": d("triggerExecution"),
                "stream.latest_offset_ms": d("latestOffset"),
                "stream.planning_ms": d("queryPlanning"),
                "stream.add_batch_ms": d("addBatch"),
                "stream.wal_commit_ms": d("walCommit"),
                "stream.commit_offsets_ms": d("commitOffsets")})
    for op in ("dedup", "window"):
        per_q = []
        for q in queries:
            ops = [s for p in q for s in p["stateOperators"]
                   if ("dedup" in s["operatorName"].lower()) == (op == "dedup")]
            per_q.append(ops)
        med = lambda f: checks.median([sum(f(s) for s in ops) for ops in per_q])
        mx = lambda f: max([f(s) for ops in per_q for s in ops] or [0])
        out.update({
            "state.%s.rows_total" % op: mx(lambda s: s["numRowsTotal"]),
            "state.%s.memory_bytes" % op: mx(lambda s: s["memoryUsedBytes"]),
            "state.%s.rocksdb_sst_bytes" % op:
                mx(lambda s: s.get("customMetrics", {}).get("rocksdbSstFileSize", 0)),
            "state.%s.update_ms" % op: med(lambda s: s["allUpdatesTimeMs"]),
            "state.%s.commit_ms" % op: med(lambda s: s["commitTimeMs"]),
            "state.%s.rows_removed" % op: med(lambda s: s["numRowsRemoved"]),
            "state.%s.rows_dropped_late" % op: med(lambda s: s["numRowsDroppedByWatermark"]),
        })
    return out


def dailies(jvm, out_dir, work, expected, tally, trace):
    """DailyBatch over the sink output's run dates, off the clock, each
    output checked against the twin; in a traced run several rounds, whose
    medians become daily.*."""
    rounds = []
    for k in range(TRACED_DAILY_ROUNDS if trace else 1):
        rounds.append(run_dailies(jvm, out_dir, "%s/daily%d" % (work, k)))
        check_dailies("%s/daily%d" % (work, k), expected, tally)
    return rounds


def daily_layers(rounds):
    """daily.* from (total, summarize, rows) per DailyBatch round."""
    return {"daily.run_s": checks.median([r[0] for r in rounds]),
            "daily.summarize_s": checks.median([r[1] for r in rounds]),
            "daily.write_s": checks.median([r[0] - r[1] for r in rounds]),
            "daily.rows": rounds[0][2]}


def sink_layers(out_dir):
    files = checks.sink_files(out_dir)
    return {"sink.files": len(files),
            "sink.bytes": sum(os.path.getsize(f) for f in files),
            "sink.rows": len(checks.read_rows(files))}


def ref_layers(jvm, twin_in, counts):
    r = jvm.call("ref_stages", twin_in)
    cum = r["cumulative_s"]
    prev, out = 0.0, {}
    for stage in ("parse", "clean", "enrich", "aggregate", "flatten"):
        out["ref.%s_s" % stage] = max(0.0, cum[stage] - prev)
        prev = cum[stage]
    out.update({"ref.rows_in": r["rows_in"] + counts["late"],
                "ref.rows_malformed": r["rows_malformed"],
                "ref.rows_duplicate": r["rows_duplicate"],
                "ref.rows_late": counts["late"], "ref.rows_out": r["rows_out"]})
    bad = [] if (r["rows_malformed"], r["rows_duplicate"], r["rows_out"]) == (
        counts["malformed"], counts["duplicate"], counts["kept"]) else [
        "batch twin counts %s differ from the input's %s" % (r, counts)]
    return out, bad


def local1_baseline(jvm, backlog_dir, rows, work):
    """Rows per second of one drain of the stream_drain backlog on a
    session rebuilt at local[1], the single-threaded baseline."""
    jvm.call("session", "local[1]")
    r = jvm.call("drain", backlog_dir, work + "/local1_out", work + "/local1_chk",
                 "baseline local[1]")
    return rows / r["wall_s"]


def write_trace(work, jvm, layers, extra):
    spans_path = os.path.join(work, "spans.json")
    jvm.call("spans", spans_path)
    with open(spans_path) as f:
        spans = json.load(f)
    report = dict(extra, self_s=checks.self_times(spans), spans=len(spans))
    with open(os.path.join(work, "trace_report.json"), "w") as f:
        json.dump({"layers": layers, "report": report}, f, indent=1, sort_keys=True)
    log("perfbench: trace report %s" % json.dumps(report, sort_keys=True))


# -------------------------------------------------------------- workloads

def stream_drain(args, launch, work, tally):
    m = stage("stream_drain", args.seed, work)
    main = m["backlogs"]["main"]
    main_dir = os.path.join(work, main["dir"])
    t_launch = time.time()
    jvm = Harness(launch, work, args.trace)
    try:
        init = jvm.call("session", "local[%d]" % cores())
        # warm-up, never timed: a smaller backlog drained cold
        jvm.call("drain", os.path.join(work, m["warm"]), work + "/warm_out",
                 work + "/warm_chk", "warm-up")
        setup_s = time.time() - t_launch
        log("perfbench: set up in %.1f s" % setup_s)

        # the clock: drains for --seconds
        drains = []
        t0 = time.time()
        need = MIN_TRACED_DRAINS if args.trace else MIN_DRAINS
        while len(drains) < need or time.time() - t0 < args.seconds:
            i = len(drains)
            # untraced and traced drains alternate, untraced first
            traced = bool(args.trace) and i % 2 == 1
            if args.trace:
                jvm.call("trace", int(traced))
            ex0, t_it = jvm.call("exec"), time.time()
            out, chk = "%s/out%d" % (work, i), "%s/chk%d" % (work, i)
            r = jvm.call("drain", main_dir, out, chk, "drain %d" % i)
            d = dict(r, out=out, chk=chk, traced=traced,
                     exec=exec_delta(ex0, jvm.call("exec")), iter_s=time.time() - t_it)
            commits, _, _, files = checks.checkpoint(chk)
            d["latency"] = [commits[files[n]] - r["start_ms"] for n in main["files"]]
            drains.append(d)
            log("perfbench: drain %d took %.2f s" % (i, r["wall_s"]))
        peak = jvm.peak_rss_mb()
        log("perfbench: %d drains in %.1f s" % (len(drains), time.time() - t0))

        # correctness, off the clock
        t_check = time.time()
        twin_dir = work + "/twin"
        # the input is counted here while the harness computes the twin
        jvm.send("twin", main_dir, twin_dir)
        counts, _ = checks.input_counts([os.path.join(main_dir, n) for n in main["files"]])
        jvm.reply("twin")
        twin_rows = read_twin(twin_dir)
        log("perfbench: twin and input counts in %.1f s" % (time.time() - t_check))
        for d in drains:
            expected, bad = output_problems(d["out"], d["chk"], twin_rows)
            tally.ops(len(checks.checkpoint(d["chk"])[0]), bad + invariant_problems(d, counts))
        log("perfbench: outputs compared in %.1f s" % (time.time() - t_check))
        if args.trace:
            jvm.call("trace", 1)
        # DailyBatch over the last drain's output
        rounds = dailies(jvm, drains[-1]["out"], work, expected, tally, args.trace)

        log("perfbench: checked in %.1f s" % (time.time() - t_check))
        timed = [d for d in drains if not d["traced"]] or drains
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": peak,
            "drain_rows_per_s": checks.median([main["rows"] / d["wall_s"] for d in timed]),
            "latency_p50_ms": checks.median([checks.quantile(d["latency"], 0.5) for d in timed]),
            "latency_p95_ms": checks.median([checks.quantile(d["latency"], 0.95) for d in timed]),
        }
        if not args.trace:
            return metrics

        traced = [d for d in drains if d["traced"]]
        layers = {"sessions.init_s": init["init_s"]}
        layers.update(stream_layers(progress_by_query(jvm.call("progress")["progress"])))
        layers["stream.backlog_files_max"] = len(main["files"])
        layers["generator.late_ms_max"] = 0.0
        t_ref = time.time()
        ref, bad = ref_layers(jvm, main_dir, counts)
        tally.ops(0, bad)
        layers.update(ref)
        log("perfbench: twin stages timed in %.1f s" % (time.time() - t_ref))
        layers.update(sink_layers(traced[0]["out"]))
        layers.update(daily_layers(rounds))
        layers.update(exec_layers([d["exec"] for d in traced],
                                  sum(d["iter_s"] for d in traced)))
        # the first timed drain runs slower than the ones after it in every
        # run, traced or not, so the overhead compares only the later ones
        rate = lambda ds: checks.median([main["rows"] / d["wall_s"] for d in ds])
        untraced = [d for d in drains[1:] if not d["traced"]]
        layers["trace.overhead_share"] = rate(untraced) / rate(traced) - 1
        t_base = time.time()
        layers["baseline.local1_rows_per_s"] = local1_baseline(
            jvm, main_dir, main["rows"], work)
        log("perfbench: local[1] baseline in %.1f s" % (time.time() - t_base))
        write_trace(work, jvm, layers, {"untraced_rows_per_s": rate(untraced),
                                        "traced_rows_per_s": rate(traced)})
        return layers
    finally:
        jvm.close()


def stream_trickle(args, launch, work, tally):
    m = stage("stream_trickle", args.seed, work, args.seconds)
    staged, watched = os.path.join(work, m["staged"]), os.path.join(work, m["watched"])
    out, chk = work + "/out", work + "/chk"
    t_launch = time.time()
    jvm = Harness(launch, work, args.trace)
    gen = None
    try:
        init = jvm.call("session", "local[%d]" % cores())
        # warm-up, never timed: the query starts on the watched directory,
        # and its first, cold batch drains the backlog waiting there
        jvm.call("trickle_start", watched, out, chk, TRIGGER_MS)
        wait_committed(chk, [m["backlog"]["name"]])
        setup_s = time.time() - t_launch
        log("perfbench: set up in %.1f s" % setup_s)

        files = m["files"]
        warm = sum(1 for f in files if f["warm"])
        gen_log = work + "/generator.json"
        gen = subprocess.Popen([sys.executable, GEN, "trickle", staged, watched, gen_log],
                               stdin=subprocess.PIPE, text=True)
        # files fall due just after the query's trigger instants (multiples
        # of the interval), so every run sees the same phase
        start_ms = (int(time.time() * 1000) // TRIGGER_MS + 2) * TRIGGER_MS + 50
        gen.stdin.write("%d\n" % start_ms)
        gen.stdin.close()
        half = files[warm + (len(files) - warm) // 2]["due_offset_ms"]
        if args.trace:
            time.sleep(max(0.0, (start_ms + half) / 1000 - time.time()))
            jvm.call("trace", 1)
            ex0, t_tr = jvm.call("exec"), time.time()
        gen.wait()
        gen = None
        if args.trace:
            ex = exec_delta(ex0, jvm.call("exec"))
            traced_s = time.time() - t_tr
        wait_committed(chk, [f["name"] for f in files])
        acct = jvm.call("trickle_stop")
        log("perfbench: trickle of %d files ended %.1f s after the last was due" % (
            len(files), time.time() - (start_ms + files[-1]["due_offset_ms"]) / 1000))
        commits, offsets, starts, batch_of = checks.checkpoint(chk)
        with open(gen_log) as f:
            sent = {x["name"]: x for x in json.load(f)}
        measured = [f for f in files if not f["warm"]]
        due = {f["name"]: sent[f["name"]]["due_ms"] for f in measured}
        lat, lost = checks.latencies(due, batch_of, commits)
        tally.ops(len(lost), ["file %s never committed" % n for n in lost])
        # delivered throughput: rows of the measured files over the time from
        # the first one falling due to the commit that took in the last one
        rows = sum(f["rows"] for f in measured)
        last = commits.get(batch_of.get(measured[-1]["name"]), float("nan"))
        delivered = rows / ((last - due[measured[0]["name"]]) / 1000)

        peak = jvm.peak_rss_mb()

        # correctness, off the clock: the twin runs over the on-time rows,
        # each judged by the watermark its batch dropped late rows by
        late_wm = checks.late_watermarks(offsets)
        names = [m["backlog"]["name"]] + [f["name"] for f in files]
        counts, on_time = checks.input_counts(
            [os.path.join(watched, n) for n in names if n in batch_of],
            lambda n: late_wm[batch_of[n]])
        twin_in = work + "/twin_in"
        os.makedirs(twin_in)
        with open(twin_in + "/part-00000.json", "w", encoding="utf-8") as f:
            f.write("\n".join(on_time) + "\n")
        jvm.call("twin", twin_in, work + "/twin")
        expected, bad = output_problems(out, chk, read_twin(work + "/twin"))
        tally.ops(len(commits), bad + invariant_problems(acct, counts))
        rounds = dailies(jvm, out, work, expected, tally, args.trace)

        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": peak,
            "drain_rows_per_s": delivered,
            "latency_p50_ms": checks.quantile(lat, 0.5),
            "latency_p95_ms": checks.quantile(lat, 0.95),
        }
        if not args.trace:
            return metrics

        layers = {"sessions.init_s": init["init_s"]}
        layers.update(stream_layers(progress_by_query(jvm.call("progress")["progress"])))
        late = [sent[n]["sent_ms"] - sent[n]["due_ms"] for n in due]
        measured_batches = {batch_of[n] for n in due if n in batch_of}
        blog = checks.backlog({n: sent[n]["sent_ms"] for n in due}, batch_of,
                              {b: starts[b] for b in measured_batches})
        layers["stream.backlog_files_max"] = max(blog.values())
        layers["generator.late_ms_max"] = max(late)
        ref, bad = ref_layers(jvm, twin_in, counts)
        tally.ops(0, bad)
        layers.update(ref)
        layers.update(sink_layers(out))
        layers.update(daily_layers(rounds))
        layers.update(exec_layers([ex], traced_s))
        first = {f["name"] for f in measured[:len(measured) // 2]}
        p50 = lambda names: checks.quantile(checks.latencies(
            {n: due[n] for n in names}, batch_of, commits)[0], 0.5)
        untraced, traced = p50(first), p50(set(due) - first)
        layers["trace.overhead_share"] = traced / untraced - 1
        backlog = stage("stream_drain", args.seed, work + "/baseline")["backlogs"]["main"]
        layers["baseline.local1_rows_per_s"] = local1_baseline(
            jvm, os.path.join(work, "baseline", backlog["dir"]), backlog["rows"], work)
        per_batch = [blog[b] for b in sorted(blog)]
        write_trace(work, jvm, layers, {
            "untraced_latency_p50_ms": untraced, "traced_latency_p50_ms": traced,
            "backlog_first_half_max": max(per_batch[:len(per_batch) // 2] or [0]),
            "backlog_second_half_max": max(per_batch[len(per_batch) // 2:] or [0])})
        return layers
    finally:
        if gen is not None:
            gen.kill()
            gen.wait()
        jvm.close()


WORKLOADS = {"stream_drain": stream_drain, "stream_trickle": stream_trickle}


def unit_of(name, declared):
    if name in declared:
        return declared[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_run = time.time()
    launch = build()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tally = Tally()
    metrics = WORKLOADS[args.workload](args, launch, work, tally)
    for p in tally.problems:
        log("perfbench: MISMATCH " + p)
    log("perfbench: run took %.1f s" % (time.time() - t_run))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    print(json.dumps({"correct": tally.failed == 0 and not tally.problems,
                      "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k, declared)}
                                  for k, v in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
