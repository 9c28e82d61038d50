#!/usr/bin/env bash
# The full round gate in one command:
#   tools/round_gate.sh            # tests + tri-scale oracle verify
#   tools/round_gate.sh bench      # ... + sf0.1 bench + bytes diff vs anchor
#   tools/round_gate.sh sf1        # ... + the sf1 quick probe + ratio audit
# Anchors live in tools/baselines/ (see BASELINE.md "judge on BYTES first").
set -euo pipefail
cd "$(dirname "$0")/.."
mode="${1:-verify}"

echo "== sbt test"
sbt -batch test >/tmp/round_gate_test.log 2>&1 || { tail -30 /tmp/round_gate_test.log; exit 1; }
grep -E "Total number of tests run|All tests passed" /tmp/round_gate_test.log | tail -2

echo "== tri-scale oracle verify"
for sf in 0.001 0.01 0.1; do
  out="/tmp/round_gate_verify_$sf"
  rm -rf "$out"
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" >/dev/null 2>&1
  # run the expensive DuckDB replay ONCE; derive everything from the
  # capture. The comparator exits nonzero on any failure, so neither
  # set -e nor pipefail may touch this line directly — capture the
  # status explicitly and keep the diagnostics.
  vout="/tmp/round_gate_vout_$sf"
  status=0
  python3 tools/verify_local.py "/root/testdata/sf$sf" "$out" >"$vout" 2>&1 || status=$?
  ok=$(grep -c '^OK' "$vout" || true)
  bad=$(grep -cv '^OK' "$vout" || true)
  # a truncated/crashed comparator must not read as green: every query
  # the Verify main dumped needs a verdict line
  dumped=$(find "$out" -mindepth 1 -maxdepth 1 -type d | wc -l)
  echo "sf$sf: $ok OK, $bad failing (of $dumped dumped, comparator exit $status)"
  if [ "$status" -ne 0 ] || [ "$bad" -ne 0 ] || [ "$ok" -ne "$dumped" ]; then
    grep -v '^OK' "$vout" | head -40
    exit 1
  fi
done

if [ "$mode" = "bench" ] || [ "$mode" = "sf1" ]; then
  echo "== sf0.1 bench + bytes diff"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"'
  cp target/bench.json /tmp/round_gate_sf01.json
  # anchor: graft.Bench at sf0.1, 4 cores, commit 41bd45a
  python3 tools/bytes_diff.py tools/baselines/bench_sf01_41bd45a_4c.json /tmp/round_gate_sf01.json
fi

if [ "$mode" = "sf1" ]; then
  echo "== sf1 quick probe + ratio audit (adjudicate ANN entries WARMED — see BASELINE.md)"
  # ScaleUp is fingerprint-gated: a no-op when target/sf1 matches the
  # current sf0.1 source, a rebuild when the driver regenerated testdata
  sbt -batch "runMain graft.tools.ScaleUp" >/dev/null 2>&1
  SPARK_GRAFT_SF_DIR=target/sf1 SPARK_GRAFT_CPUS="$(nproc)" SPARK_GRAFT_QUICK=1 \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"'
  python3 tools/bytes_diff.py --ratio 12 /tmp/round_gate_sf01.json target/bench.json || \
    echo "(ratio flags above: re-probe flagged queries warmed+solo before adjudicating)"
fi

echo "== round gate done"
