#!/usr/bin/env bash
# One-command scale-oracle gate: prove the registry's ANSWERS (not just
# timings) hold on a corpus N× the sf0.1 geometry, through the IDENTICAL
# driver gate used at sf0.01.
#
#   tools/oracle_at_scale.sh [copies] [querySubset]
#
#   copies       corpus multiplier (default 10)
#   querySubset  optional comma-separated query names for Verify;
#                default = the FULL registry (every oracled gate).
#                A subset run checks, and writes into
#                CORRECTNESS_<copies>x.json, only the gates of its subset:
#                the Verify output dir is emptied before step 3, so no
#                gate output of an earlier run is re-checked.
#
# Steps (all idempotent; the synthesized corpus is cached by copies):
#   1. graft.ScaleSmoke synthesizes <copies>× documents/embeddings/events
#      under /tmp/graft_scale10x_c<copies> (skipped when present; the
#      'synth-only' subset matches no query name, so no timing pass runs)
#   2. tools/flatten_scale_corpus.py rewrites the Spark directory-parquet
#      into single files and symlinks the untouched TPC-H tables from
#      sf0.1, producing a Verify/DuckDB-compatible sf dir
#   3. graft.Verify dumps every (subset) registry query over that dir
#   4. tools/check_oracle.py replays each oracle SQL in DuckDB over the
#      SAME files and value-compares — the exact driver-gate semantics
#
# Exit code is check_oracle's: 0 only if every compared gate matches.
# This replaces the ad-hoc round-9 process behind SCALE.md §Round-9
# (57/57 hash-exact at 10×) with a reproducible one-liner.
set -euo pipefail
cd "$(dirname "$0")/.."

COPIES="${1:-10}"
SUBSET="${2:-}"
WORK="/tmp/graft_scale10x_c${COPIES}"
FLAT="/tmp/graft_scale10x_c${COPIES}_flat"
OUT="/tmp/graft_verify_${COPIES}x"

echo "== [1/4] synthesize ${COPIES}x corpus (cached at $WORK)"
sbt -batch "runMain graft.ScaleSmoke $WORK synth-only $COPIES"

echo "== [2/4] flatten to single-file sf dir at $FLAT"
python3 tools/flatten_scale_corpus.py "$WORK" "$FLAT"

echo "== [3/4] graft.Verify over the ${COPIES}x corpus (into an emptied $OUT)"
rm -rf "$OUT"
if [ -n "$SUBSET" ]; then
  sbt -batch "runMain graft.Verify $FLAT $OUT $SUBSET"
else
  sbt -batch "runMain graft.Verify $FLAT $OUT"
fi

echo "== [4/4] DuckDB oracle replay + value compare"
# set -e guard: capture the gate's exit code, still merge the ladder
RC=0
python3 tools/check_oracle.py "$FLAT" "$OUT" "CORRECTNESS_${COPIES}x.json" || RC=$?
# machine-readable decade ladder: per-gate engine/oracle seconds at this
# scale (engine side from Verify's engine_seconds.json, oracle side from
# the report). Merged even on partial failure — the costs ARE evidence.
python3 tools/scale_ladder.py "${COPIES}x" "$OUT" "CORRECTNESS_${COPIES}x.json" || true
exit $RC
