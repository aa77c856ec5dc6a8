#!/usr/bin/env bash
# Standing mis-broadcast gate (r15 verdict ask #5): the p118 failure
# class — Catalyst statically sizing a corpus-derived side from
# compressed parquet bytes and building a broadcast join whose build
# side materializes at corpus scale — must FAIL the round when it
# reappears, not the next mem2g sweep. This sweeps every registered
# query's pre-execution physical plan at a realistic scale dir and
# diffs the statically-chosen broadcast lines against the
# audited-legitimate baseline. Planning is not free: every lckpt is
# eager, so each loop and checkpointed pipeline runs its rounds while
# its plan is built. One sweep at a 10-tile (sf1.0) dir took about
# 50 min on 4 vCPUs with SPARK_DRIVER_MEM=5g; the default 40-tile sf4.0
# dir needs SPARK_DRIVER_MEM=24g and does not fit a 15 GB machine
# (tools/broadcast-audit-baseline.txt — reviewed line by line in r15/r16:
# bounded sketch tables, strata, hot-bucket lists, eval fingerprint
# sets, top-k rerank sides, fixed walk frontiers, single-row scalar
# combines, sqrt-scale IVF coarse centroids, and the exact-twin
# baselines whose broadcast IS the contract).
#
# Usage: tools/broadcast-audit-gate.sh [sfDir]
#   default sfDir /tmp/graft-sf4.0; generate it with
#   sbt 'runMain graft.tools.ScaleData /root/testdata/sf0.1 /tmp/graft-sf4.0 40'
#
# Regenerating the baseline after an INTENDED new legitimate broadcast:
# review the new line, then append it to tools/broadcast-audit-baseline.txt
# with the justification comment and commit both.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/tmp/graft-sf4.0}"
BASELINE="tools/broadcast-audit-baseline.txt"

if [ ! -d "$SF_DIR" ]; then
  echo "[bcast-gate] SKIP: scale dir $SF_DIR missing — generate with:"
  echo "  sbt 'runMain graft.tools.ScaleData /root/testdata/sf0.1 $SF_DIR 40'"
  echo "[bcast-gate] (the gate must run against at-scale size estimates;"
  echo "  sf0.1 estimates legitimately broadcast corpus sides)"
  exit 2
fi

if [ ! -f "$BASELINE" ]; then
  echo "[bcast-gate] FAIL: $BASELINE missing — review a sweep's BCAST lines and seed it:"
  echo "  AUDIT_KEEP=/tmp/bcast_audit.txt tools/broadcast-audit-gate.sh $SF_DIR  # sweep survives the failure"
  echo "  (then review each BCAST line, add justification comments, commit)"
  # ADVICE r16: without AUDIT_KEEP the sweep (about 50 min at sf1.0) would be thrown away
  # on exit 1 anyway — fail fast unless the caller asked to keep it
  [ -n "${AUDIT_KEEP:-}" ] || exit 1
fi

# AUDIT_OUT reuses a saved sweep (iterating on the baseline without
# re-paying the all-queries sweep); AUDIT_KEEP saves this
# run's sweep there. The sweep needs a large heap: plan CONSTRUCTION for
# the artifact-backed queries executes their store builds at sf4.0
# (SPARK_DRIVER_MEM=24g, same as any sf1+ sweep that touches g43-class
# graph artifacts — see BENCH_NOTES round 9).
OUT="${AUDIT_OUT:-${AUDIT_KEEP:-$(mktemp)}}"
# delete the sweep file too when it was mktemp'd (ADVICE r16: the old
# trap leaked one temp file per run); a caller-named AUDIT_OUT/AUDIT_KEEP
# file survives
if [ -z "${AUDIT_OUT:-}" ] && [ -z "${AUDIT_KEEP:-}" ]; then
  trap 'rm -f "$OUT" "$OUT.bcast" "$OUT.base"' EXIT
else
  trap 'rm -f "$OUT.bcast" "$OUT.base"' EXIT
fi
if [ ! -s "$OUT" ]; then
  SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-24g}" GRAFT_MEM="${SPARK_DRIVER_MEM:-24g}" \
    tools/run-bare.sh graft.tools.BroadcastAudit "$SF_DIR" ALL 2>/dev/null \
    | grep '\[bcast-audit\]' > "$OUT" || true
fi
[ -f "$BASELINE" ] || exit 1

if ! grep -q '\[bcast-audit\]' "$OUT"; then
  echo "[bcast-gate] FAIL: audit produced no output (build broken?)"
  exit 1
fi
if grep -q 'PLAN_ERROR' "$OUT"; then
  echo "[bcast-gate] FAIL: queries failed to plan at $SF_DIR:"
  grep 'PLAN_ERROR' "$OUT"
  exit 1
fi

# BCAST lines, stripped of the query-count prefix lines; the audit tool
# already normalizes expr/plan ids before truncation
grep 'BCAST:' "$OUT" | sed -E 's/^\[bcast-audit\][[:space:]]+//' | sort -u > "$OUT.bcast"
grep -v '^#' "$BASELINE" | grep -v '^[[:space:]]*$' | sort -u > "$OUT.base"

NEW="$(comm -13 "$OUT.base" "$OUT.bcast" || true)"
GONE="$(comm -23 "$OUT.base" "$OUT.bcast" || true)"
if [ -n "$GONE" ]; then
  echo "[bcast-gate] note: baseline broadcasts no longer chosen (stale rows — prune when convenient):"
  echo "$GONE" | sed 's/^/[bcast-gate]   /'
fi
if [ -n "$NEW" ]; then
  echo "[bcast-gate] FAIL: statically-chosen broadcasts NOT on the audited-legitimate baseline:"
  echo "$NEW" | sed 's/^/[bcast-gate]   /'
  echo "[bcast-gate] each is a potential p118 (corpus side broadcast off a bad static"
  echo "[bcast-gate] estimate): either merge-pin the join or, if the side is provably"
  echo "[bcast-gate] bounded, review and append the line to $BASELINE"
  exit 1
fi
echo "[bcast-gate] PASS: $(wc -l < "$OUT.bcast") broadcast lines, all on the audited baseline ($SF_DIR)"
