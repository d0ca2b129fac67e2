#!/usr/bin/env bash
# Pre-snapshot guard: a red compile committed at a round boundary silently
# voids every downstream signal (correctness oracle, bench, judge) for that
# round AND the next one — exactly what happened in rounds 6-7, when a
# one-line rename break sat undetected behind two snapshots. Run this before
# every end-of-round commit; it fails fast if main or test sources don't
# compile.
#
# Usage:  tools/preflight.sh          # compile gate only (~30 s warm)
#         tools/preflight.sh --test   # compile gate + full ScalaTest suite
#                                     #   + the perfbench harness build and
#                                     #   its Python unit tests
#         tools/preflight.sh --full   # + Verify/oracle @ sf0.01 + one Bench
#                                     #   pass @ sf0.01 (the driver's t2/t3
#                                     #   surfaces, ~5 min total)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[preflight] sbt Test/compile ..."
sbt -batch Test/compile

if [[ "${1:-}" == "--test" || "${1:-}" == "--full" ]]; then
  echo "[preflight] sbt test ..."
  sbt -batch test
  # the benchmark harness compiles against engine signatures; a break there
  # would otherwise surface only when the benchmark runs
  echo "[preflight] perfbench harness compile + unit tests ..."
  (cd perfbench && sbt --batch compile)
  python3 -m unittest discover -s perfbench -p 'test_*.py'
fi

if [[ "${1:-}" == "--full" ]]; then
  out=$(mktemp -d /tmp/preflight_verify.XXXXXX)
  echo "[preflight] graft.Verify + DuckDB oracle @ sf0.01 ..."
  # Verify must populate $out before the oracle reads it — the r8 single-
  # oracle-run refactor dropped this line, turning the gate into an
  # instant FileNotFoundError (caught in round 9)
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" \
    || { echo "[preflight] VERIFY RED"; exit 1; }
  # one oracle run, its output inspected twice — re-invoking would re-execute
  # the full DuckDB suite per check for no extra signal (ADVICE r8)
  oracle_out=$(python3 tools/oracle_check.py /root/testdata/sf0.01 "$out")
  echo "$oracle_out" | tail -1
  echo "$oracle_out" | tail -1 | grep -q " oracle-matched" \
    || { echo "[preflight] ORACLE RED"; exit 1; }
  echo "$oracle_out" | grep -q "FAIL" && { echo "[preflight] ORACLE RED"; exit 1; }
  echo "[preflight] graft.Bench @ sf0.01 ..."
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt -batch 'runMain graft.Bench' \
    | grep '"metric"' | grep -q '"failed":\[\]' \
    || { echo "[preflight] BENCH RED (rc!=0 or failed queries)"; exit 1; }
  rm -rf "$out"
fi

echo "[preflight] OK — safe to snapshot."
