#!/usr/bin/env bash
# Pre-snapshot gate: refuse to call a round done unless the full board is
# green. Round 6 snapshotted with a non-compiling HEAD and lost its bench
# artifact to an rc=1 capture — this script makes that impossible to do
# silently: run it before the closing commit of a round and commit only
# on exit 0.
#
# Usage: tools/gate.sh [sfDir]   (default /root/testdata/sf0.01)
#
# Steps (each must exit 0):
#   0. tools/readme_check.py + tools/lifecycle_check.py + tools/env_check.py
#      (source lints)
#   1. sbt compile
#   1b. perfbench/run.py --selftest (the benchmark harness builds against
#      the engine and attributes jobs to operations)
#   2. sbt test (full ScalaTest suite)
#   3. graft.Verify + tools/check.py at the gate SF (oracle hash-match)
#   4. graft.Bench at the gate SF (one timed pass; writes bench_latest.json)
set -uo pipefail

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="$(mktemp -d /tmp/graft-gate.XXXXXX)"
cd "$(dirname "$0")/.."

step() {
  echo "== gate: $1 =="
  shift
  if ! "$@"; then
    echo "GATE FAILED at: $*" >&2
    exit 1
  fi
}

# README operator tables must not cite a query id that no longer exists
# in the engine source (the reverse of the gate-generated counts)
step "readme"   python3 tools/readme_check.py
# every persist/checkpoint goes through graft.util.Materialize, whose
# query scope (Watchdog.run) releases it — no direct lifecycle calls
step "lifecycle" python3 tools/lifecycle_check.py
# src/main reads only the allowlisted env variables, each in its owner
# file — no new env hatch slips in unnamed
step "env"      python3 tools/env_check.py
step "compile"  sbt -batch compile
# the benchmark compiles the engine from source and attributes each job to
# its operation by job group: an engine change that breaks either fails here
step "perfbench" python3 perfbench/run.py --selftest
step "test"     sbt -batch test
step "verify"   sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR/verify"
step "oracle"   python3 tools/check.py "$SF_DIR" "$OUT_DIR/verify"
# plan-posture hard gate: exits 1 if ANY query executes an unpartitioned
# window over per-row data (aggregate-fed offset windows exempt) or
# crashes under the audit listener (sf0.001 — posture, not perf)
step "audit"    sbt -batch "runMain graft.Audit /root/testdata/sf0.001"
step "bench"    env SPARK_GRAFT_SF_DIR="$SF_DIR" sbt -batch "runMain graft.Bench"
# >15%-total drift vs the last committed bench at the same SF auto-runs
# the scratch-worktree A/B on the top-5 slow tail and appends the table
# to docs/SCALING.md (diagnostic: informs, never blocks)
step "drift"    tools/drift.sh

echo "== gate: ALL GREEN (sf=$SF_DIR) =="
