#!/usr/bin/env bash
# Bench wrapper for the round driver: every byte of sbt/Spark noise goes to
# stderr; stdout carries EXACTLY ONE line — the COMPACT JSON bench record
# (suite total, failures, the gated contract total/readings/gate; ~1 KB
# with NO per-query map, guaranteed inside the driver's
# 2000-char tail-capture window — the r15 line that embedded two 41-entry
# query maps front-truncated to "parsed": null, as did the bare
# `sbt 'runMain graft.Bench'` framing in rounds 8–10). The FULL record
# (all queries + snapshot_detail) lands in target/bench_full.json per run
# and is committed as BENCH_LOCAL.json at sf0.1. Bench writes the compact
# record to target/bench_compact.json; this script deletes that file before
# the run and prints it after.
#
# Provenance: the record carries `"writer"` from SPARK_GRAFT_BENCH_WRITER
# (builder quiet runs export =builder; an unattributed record is a
# driver/CI run) — BENCH_LOCAL.json is last-writer-wins, and the writer
# tag makes the winner identifiable without git archaeology.
#
# Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/bench.sh
set -u
cd "$(dirname "$0")/.."
rm -f target/bench_compact.json
sbt -batch 'runMain graft.Bench' 1>&2
status=$?
if [ "$status" -eq 0 ] && [ -f target/bench_compact.json ]; then
  cat target/bench_compact.json
else
  echo "{\"metric\":\"total\",\"value\":-1,\"unit\":\"sec\",\"error\":\"bench run failed rc=$status\"}"
  exit 1
fi
