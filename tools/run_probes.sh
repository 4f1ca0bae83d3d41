#!/usr/bin/env bash
# Run the full oracle probe matrix: for each algorithm family with a
# generated DuckDB oracle, run the Scala probe main (graft.runner.OracleProbe,
# one JVM for every scenario) at several variant anomaly injections, then
# diff each scenario's output against the oracle SQL with the same
# injection substituted (tools/check_*_probe.py). Exits non-zero on a
# failed probe run, on a scenario without its PROBE_DONE sentinel, and on
# the first MISMATCH or failed checker (ADVICE r12: an earlier version
# swallowed checker exit codes and sbt failures and always printed ALL
# PROBES MATCH).
#
# Usage: tools/run_probes.sh [sfdir]   (default /root/testdata/sf0.01)
set -euo pipefail
# no globbing: the "*" wildcard in a scenario is an argument, not a path
set -f
SF="${1:-/root/testdata/sf0.01}"
SCEN=("2.0 Brand#25 A 3.0" "0.4" "1.15" "3.0 Brand#19 A 2.0")
# Plus one single-attribute anomaly per family, exercising the layer-1
# winner paths. riskloc and autoroot double every rf=R slice. Squeeze
# doubles every Brand#25 slice instead: the q44 squeeze oracle models a
# cuboid of at most 16 abnormal elements, and at sf0.01 each rf slice
# (* R, * A, * N) puts 17-22 elements into one, so its checker would
# raise on them rather than compare.
declare -A SINGLE=([riskloc]="2.0 * R 2.0" [autoroot]="2.0 * R 2.0"
                   [squeeze]="2.0 Brand#25 * 2.0")
# batch (q47-q49): a different multiplier per instance, so the
# instance_id-threaded plumbing (per-instance prune lists, removals,
# guards) diverges across instances; mi=1.0 means no anomaly in instance i
BSCEN=("3.0 0.4 1.15" "0.5 2.5 1.0")
declare -A CHECK=([riskloc]=check_riskloc_probe.py [autoroot]=check_autoroot_probe.py
                  [squeeze]=check_squeeze_probe.py)
ARGS=()    # the whole matrix for OracleProbe, scenarios separated by "--"
HEAD=()    # each scenario's header line, as OracleProbe prints it
CHECKER=() # each scenario's checker command line
for fam in riskloc autoroot squeeze; do
  for s in "${SCEN[@]}" "${SINGLE[$fam]}"; do
    # shellcheck disable=SC2206
    ARGS+=(-- $fam $s); HEAD+=("$fam: $s"); CHECKER+=("${CHECK[$fam]} $SF $s")
  done
done
for fam in riskloc squeeze autoroot; do
  for s in "${BSCEN[@]}"; do
    # shellcheck disable=SC2206
    ARGS+=(-- batch $fam $s); HEAD+=("batch $fam: $s")
    CHECKER+=("check_batch_probe.py $fam $SF $s")
  done
done

OUT="$(mktemp)"
trap 'rm -f "$OUT"' EXIT
if ! sbt -batch "runMain graft.runner.OracleProbe $SF ${ARGS[*]:1}" 2>/dev/null > "$OUT"; then
  echo "PROBE RUNNER FAILED — sbt exit status nonzero"
  tail -5 "$OUT"
  exit 1
fi
for i in "${!HEAD[@]}"; do
  echo "=== ${HEAD[$i]} ==="
  # this scenario's lines: from its header up to the next header
  block="$(awk -v h="=== ${HEAD[$i]} ===" '$0 == h {on = 1; next} /^=== / {on = 0} on' "$OUT")"
  # The sentinel proves the scenario completed; without it an empty output
  # could vacuously MATCH a scenario whose oracle is also empty.
  if ! grep -qx 'PROBE_DONE' <<<"$block"; then
    echo "PROBE RUNNER INCOMPLETE (${HEAD[$i]}) — no PROBE_DONE sentinel"
    tail -5 "$OUT"
    exit 1
  fi
  # the checker prints MATCH/MISMATCH and exits nonzero on mismatch; under
  # set -e a failure aborts the matrix here
  # shellcheck disable=SC2086
  { grep -E '^(RC|PRED)' <<<"$block" || true; } | python3 tools/${CHECKER[$i]}
done
echo "ALL PROBES MATCH"
