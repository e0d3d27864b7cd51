#!/usr/bin/env bash
# One-command green gate (mirrors the reference's lint+pytest CI shape):
#   compile + unit suites + the end-to-end oracle gate at sf0.001/sf0.01.
# Usage: scripts/ci.sh [--fast|--bench]
#   --fast   sf0.001 oracle gate only
#   --bench  perf-floor mode: run graft.Bench at sf0.1 and fail on any
#            query slower than 2x its committed floor (scripts/bench_floor.json,
#            the min-of-N times from past rounds) — catches regressions like
#            round 5's q_simhash before a round ships. Refresh the floor with:
#            python3 scripts/bench_floor.py --update bench_out.json
#
# --bench exit codes (the floor gate's contract, propagated DISTINCTLY):
#   0 = green (or inconclusive noisy run below the strike limit)
#   1 = real perf-floor breach on a quiet host (or build/bench failure)
#   3 = strike limit: MAX_STRIKES consecutive inconclusive noisy runs —
#       breaches have gone unattributed too long; find a quiet host
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" == "--bench" ]]; then
  echo "== sbt compile =="
  sbt -batch compile
  echo "== bench perf floor (sf0.1, 2x gate) =="
  # plain java at -Xmx16g: the committed floors are 16g numbers, and a
  # much larger heap measurably distorts the full sweep (see the heap
  # note in Bench.scala) — sbt's own JVM settings must not leak in
  CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
  OPENS=""
  for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
           java.nio java.util java.util.concurrent java.util.concurrent.atomic \
           sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
    OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
  done
  echo "== floor-gate strike lifecycle =="
  bash scripts/test_bench_floor.sh
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_OUT=bench_out.json \
    java $OPENS -Xmx16g -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench
  set +e
  python3 scripts/bench_floor.py bench_out.json
  rc=$?
  set -e
  if [[ $rc -eq 3 ]]; then
    echo "CI BENCH FAILED (exit 3): strike limit — consecutive noisy runs" >&2
    exit 3
  elif [[ $rc -ne 0 ]]; then
    echo "CI BENCH FAILED (exit 1): perf floor breach on a quiet host" >&2
    exit 1
  fi
  echo "CI BENCH GREEN"
  exit 0
fi

echo "== one session factory =="
# Every SparkSession is built by graft.GraftSession.local; a hand-copied
# builder would drift from its shared confs (UTC, plan-string cap, UI off,
# shuffle partitions = cores).
if git grep -n 'SparkSession\.builder' -- src ':!src/main/scala/graft/GraftSession.scala'; then
  echo "CI FAILED: SparkSession.builder outside GraftSession (use GraftSession.local)" >&2
  exit 1
fi

echo "== one first-write-wins writer =="
# Both parquet sinks land through IdempotentSink.firstWriteWins; a second
# left-anti join under sinks/ is a hand-copied rule that would drift.
fww=$(git grep -n left_anti -- src/main/scala/graft/sinks || true)
if [[ $(printf '%s' "$fww" | grep -c .) -gt 1 ]]; then
  echo "$fww"
  echo "CI FAILED: more than one left_anti under sinks/ (use IdempotentSink.firstWriteWins)" >&2
  exit 1
fi

echo "== materializeLoop only in the graph and CC fixpoint loops =="
# IVF and PQ Lloyd fit in-process (Similarity.lloyd); a materializeLoop
# anywhere else is a per-round Spark loop over a bounded model coming back.
ml=$(git grep -n materializeLoop -- src/main \
  | grep -vE '^src/main/scala/graft/operators/(Graph|Dedup|Materialize)\.scala:' || true)
if [[ -n "$ml" ]]; then
  echo "$ml"
  echo "CI FAILED: materializeLoop outside Graph/Dedup/Materialize" >&2
  exit 1
fi

echo "== one definition of the seeded recursions =="
# The seeded EMA/RMA step and the Wilder DX smoothing are the step methods
# of SeededAggs.EmaBuf/AdxBuf; the window aggregates and the streaming
# IndicatorMath both fold through them, so streaming/batch bit-parity holds
# by construction. A copy elsewhere would have to keep their operation order
# by hand. OracleSql's DuckDB mirror is the independent reference.
rec=$(git grep -nE '\(1 - alpha\)|\(dx - ' -- src/main \
  ':!src/main/scala/graft/functions/SeededAggs.scala' \
  ':!src/main/scala/graft/OracleSql.scala' || true)
if [[ -n "$rec" ]]; then
  echo "$rec"
  echo "CI FAILED: seeded EMA/ADX recursion outside SeededAggs (use EmaBuf/AdxBuf.step)" >&2
  exit 1
fi

echo "== environment variables only in the mains that document them =="
# Library code takes its settings as arguments; a sys.env read elsewhere is
# a knob no caller can see. The session factory, the bench and trend mains
# and the registry's SPARK_GRAFT_ONLY filter are the documented readers.
envs=$(git grep -n 'sys\.env' -- src/main \
  | grep -vE '^src/main/scala/graft/(GraftSession|Bench|BenchTrend|CurateTrend|SparkEntry)\.scala:' || true)
if [[ -n "$envs" ]]; then
  echo "$envs"
  echo "CI FAILED: sys.env read outside GraftSession/Bench/BenchTrend/CurateTrend/SparkEntry" >&2
  exit 1
fi

echo "== run artifacts under plans/ =="
# Trend, curate-trend, key-scale and sweep outputs live under plans/ (the
# trend mains default there); the root keeps bench_out.json, the driver's
# artifact, and nothing else of the kind.
stray=$(find . -maxdepth 1 -type f \( -name 'trend*' -o -name 'curate_trend*' \
  -o -name 'keyscale*' -o -name '*sweep*' \) | sort)
if [[ -n "$stray" ]]; then
  echo "$stray"
  echo "CI FAILED: run artifacts at the repo root (move them under plans/)" >&2
  exit 1
fi

echo "== sbt Test/compile =="
sbt -batch Test/compile

echo "== benchmark harness compiles against the library =="
# perfbench/harness builds the library from this checkout and calls
# StreamIngest.fromRaw/rocksdbConf, IdempotentSink.append, TableSetup.* and
# JdbcInsertIgnoreSink.foreachBatchWriter; a renamed or re-typed signature
# must fail here, not in a benchmark run.
(cd perfbench/harness && sbt -batch compile)

echo "== sbt test =="
SBT_TEST_LOG=$(mktemp /tmp/graft_ci_sbt_test.XXXXXX)
trap 'rm -f "$SBT_TEST_LOG"' EXIT
sbt -batch test 2>&1 | tee "$SBT_TEST_LOG"

echo "== doc-currency gate (README test count vs live suite) =="
# The README advertises "<N> tests, <M> suites"; four rounds running the
# manual update drifted, so the claim is now diffed mechanically against
# scalatest's own summary lines from the run above. Fails loudly on drift.
# (`|| true` inside the substitutions: under pipefail a no-match grep
# would otherwise abort the script before the could-not-extract branch.)
# ANSI escape sequences are stripped first: a color-enabled sbt/scalatest
# would otherwise break the plain-text grep and hard-fail the gate
# spuriously.
SBT_TEST_PLAIN=$(mktemp /tmp/graft_ci_sbt_plain.XXXXXX)
trap 'rm -f "$SBT_TEST_LOG" "$SBT_TEST_PLAIN"' EXIT
sed $'s/\x1b\\[[0-9;]*[A-Za-z]//g' "$SBT_TEST_LOG" > "$SBT_TEST_PLAIN"
actual_tests=$(grep -oE 'Total number of tests run: [0-9]+' "$SBT_TEST_PLAIN" \
  | tail -1 | grep -oE '[0-9]+' || true)
actual_suites=$(grep -oE 'Suites: completed [0-9]+' "$SBT_TEST_PLAIN" \
  | tail -1 | grep -oE '[0-9]+' || true)
claimed=$(grep -oE '[0-9]+ tests, [0-9]+ suites' README.md | head -1 || true)
if [[ -z "$actual_tests" || -z "$actual_suites" || -z "$claimed" ]]; then
  echo "CI DOC GATE FAILED: could not extract counts (claimed='$claimed'," \
       "actual tests='$actual_tests' suites='$actual_suites')" >&2
  exit 1
fi
if [[ "$claimed" != "$actual_tests tests, $actual_suites suites" ]]; then
  echo "CI DOC GATE FAILED: README.md claims '$claimed' but the suite ran" \
       "'$actual_tests tests, $actual_suites suites' — update README.md" >&2
  exit 1
fi
echo "doc-currency OK: $claimed"

echo "== oracle gate (sf0.001) =="
python3 scripts/check.py /root/testdata/sf0.001 /tmp/graft_ci_sf0001

if [[ "${1:-}" != "--fast" ]]; then
  echo "== oracle gate (sf0.01) =="
  python3 scripts/check.py /root/testdata/sf0.01 /tmp/graft_ci_sf001
fi

echo "CI GREEN"
