#!/usr/bin/env bash
# Round-close preflight (SURVEY §8b rule, made mechanical per VERDICT
# r16 item 8): NO snapshot commit without (1) the full ScalaTest
# suite green and (2) the sf0.001 registry smoke green. Run from the
# repo root; exits non-zero on any failure so it can gate a commit:
#
#   scripts/preflight.sh && git commit ...
#
# The smoke runs every registered entry end-to-end at sf0.001 and
# compares against the DuckDB oracle — the cheapest full-registry
# signal (~2 min). It is NOT a substitute for the sf0.01 driver gate;
# it exists to catch "compiles but throws at runtime" before a
# snapshot ships (the r15 lesson: warehouse_zorder shipped broken
# because the snapshot went out without this).
# ATOMICITY (r17 lesson — a test-bearing commit landed AFTER the
# preflight run and shipped red): pass `--commit "msg"` and the
# script stages the ENTIRE tree first, records its index tree hash,
# runs the gates, re-stages, and refuses to commit if the tree hash
# moved during the run. The tree that passed IS the tree that ships;
# nothing can slip in between the suite run and the commit.
set -euo pipefail
cd "$(dirname "$0")/.."

COMMIT_MSG=""
if [[ "${1:-}" == "--commit" ]]; then
  COMMIT_MSG="${2:?--commit requires a message}"
  git add -A
  TREE_BEFORE="$(git write-tree)"
fi

SMOKE_SF="${SMOKE_SF:-/root/testdata/sf0.001}"
OUT="$(mktemp -d /tmp/graft_preflight.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

echo "[preflight] sbt test..."
sbt -batch test

echo "[preflight] registry smoke at $SMOKE_SF..."
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify $SMOKE_SF $OUT/verify"

echo "[preflight] DuckDB oracle compare..."
python3 scripts/check_oracle.py "$SMOKE_SF" "$OUT/verify"

echo "[preflight] OK — suite green, registry smoke green."
# ROADMAP aim 2 tracks the size of the library and its options the way
# it tracks the suite
echo "[preflight] src/main Scala LoC: $(find src/main -name '*.scala' -exec cat {} + | wc -l)"
echo "[preflight] graft.* conf keys read:" \
  $(grep -rhoE '"graft\.[A-Za-z.]+"' src/main | tr -d '"' | sort -u)
echo "[preflight] env vars read:" \
  $(grep -rhoE 'sys\.env[^"]*"[A-Z_]+"' src/main | grep -oE '"[A-Z_]+"' | tr -d '"' | sort -u)

if [[ -n "$COMMIT_MSG" ]]; then
  git add -A
  TREE_AFTER="$(git write-tree)"
  if [[ "$TREE_AFTER" != "$TREE_BEFORE" ]]; then
    echo "[preflight] ABORT: tree changed during the gate run" \
         "($TREE_BEFORE -> $TREE_AFTER); re-run preflight on the new tree." >&2
    exit 1
  fi
  git commit -m "$COMMIT_MSG"
  echo "[preflight] committed the exact gated tree ($TREE_AFTER)."
fi
