#!/bin/bash
# Property-suite soak (VERDICT r15 item 5): the generative
# differentials found real bugs at their default 24-test budgets
# (wildcard-entity fusion r15, duplicate-id fusion r16) — this entry
# point runs them at a deep budget so a round record can include a
# green soak, not just the default-budget battery pass.
#
#   tools/soak.sh [N]          # default 500 tests per property
#
# Every suite reads GRAFT_PROP_N through graft.props.PropBudget.
# Writes the summary to SOAK.txt (repo root) and exits non-zero on
# any failure, and on any shortfall: a property that passed fewer
# than N cases (or gave up on discarded ones) is listed by name.
set -uo pipefail
N="${1:-500}"
cd "$(dirname "$0")/.."
SUITES=(
  graft.props.DirectNativeProps
  graft.props.EavTypedProps
  graft.props.EavRegroupProps
  graft.props.ShredProps
  graft.props.PrecedenceProps
  graft.props.PureProps
  graft.props.KernelProps
  graft.props.HeteroProps
  graft.props.AnalyticsProps
)
echo "[soak] GRAFT_PROP_N=$N over ${#SUITES[@]} suites" | tee SOAK.txt
GRAFT_PROP_N="$N" sbt -batch "testOnly ${SUITES[*]}" 2>&1 \
  | tee /tmp/graft_soak_full.log \
  | grep -E "OK, passed|Gave up|Failed|Falsified|Exception|MISMATCH" \
  | tee -a SOAK.txt
code=$(grep -cE "Falsified|Exception raised|MISMATCH" SOAK.txt || true)
passed=$(grep -c "OK, passed" SOAK.txt || true)
# "OK, passed K tests." or "Gave up after only K passed tests."
short=$(grep -E "OK, passed [0-9]+ tests|Gave up after only [0-9]+" SOAK.txt \
  | awk -v n="$N" 'match($0, /(passed|only) [0-9]+/) {
      split(substr($0, RSTART, RLENGTH), w, " ")
      if (w[2] + 0 < n) print "[soak] shortfall: " $0 }')
nshort=0
if [ -n "$short" ]; then
  echo "$short" | tee -a SOAK.txt
  nshort=$(echo "$short" | wc -l)
fi
echo "[soak] properties green: $passed, failures: $code," \
  "short of $N cases: $nshort" | tee -a SOAK.txt
date -u +"[soak] completed %Y-%m-%dT%H:%M:%SZ" | tee -a SOAK.txt
test "$code" -eq 0 && test "$nshort" -eq 0
