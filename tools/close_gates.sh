#!/bin/bash
# Round-close gate runner (r11 VERDICT item 8): the full set of
# closing receipts as ONE command, in the order that fails fastest.
# Encodes the three determinism sweeps that previously lived only as
# documented knobs on tools/verify_oracle.py:
#
#   1. receipt check         — every key's current code-closure
#                              fingerprint has a green sf0.01 receipt in
#                              ORACLE_RECEIPTS.json (seconds, run first)
#   2. oracle sweep @ sf0.01 — the t2 correctness gate, all keys; refreshes
#                              the sf0.01 receipts
#   3. oracle sweep @ sf0.001— small-data edge sweep
#   4. oracle sweep, CPUS=7  — partition-count invariance (odd core /
#                              shuffle-partition count; catches ties
#                              broken by partition order)
#   5. oracle sweep, TZ=Australia/Eucla (+08:45) — no UTC/local mixing
#   6. full pytest           — plan gates, streaming, properties
#
# Each sweep writes its log under /tmp/kpws_close_gates/ so a failure
# points at the step without scrolling. Exit on first failure.
set -u
cd "$(dirname "$0")/.."
LOGDIR=/tmp/kpws_close_gates
mkdir -p "$LOGDIR"

step() {
  local name="$1"; shift
  echo "== $name =="
  local t0=$SECONDS
  if "$@" >"$LOGDIR/$name.log" 2>&1; then
    echo "   OK (${name}, $((SECONDS - t0))s)"
  else
    echo "   FAIL ($name) — see $LOGDIR/$name.log (tail:)"
    tail -5 "$LOGDIR/$name.log"
    exit 1
  fi
}

step receipts python tools/evidence_audit.py
step oracle_sf001 python tools/verify_oracle.py
step oracle_sf0001 env SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.001 \
  python tools/verify_oracle.py
step oracle_cpus7 env SPARK_GRAFT_CPUS=7 python tools/verify_oracle.py
step oracle_tz env TZ=Australia/Eucla python tools/verify_oracle.py
step pytest python -m pytest tests/ -q

echo "ALL CLOSING GATES GREEN"
