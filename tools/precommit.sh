#!/usr/bin/env bash
# Pre-snapshot gate: a tree that does not compile must never be
# committed as a round snapshot (the round-11 failure mode: a truncated
# edit left ops/Bm25.scala a 3-line stub and every hard signal — 363
# specs, 103 oracle gates, the bench — went red at once).
#
# Usage:
#   tools/precommit.sh           # compile main + test sources and the
#                                # benchmark (~30 s warm, + ~2 min when
#                                # src/main changed since the last build)
#   FULL=1 tools/precommit.sh    # also run the sf0.001 smoke gate
#
# Run it before EVERY commit that touches src/. If it fails, fix or
# `git checkout` the offending file before committing — never snapshot
# the broken state "to keep history".
set -euo pipefail
cd "$(dirname "$0")/.."

# one session factory: every entry point and spec builds its session
# through graft.GraftSession, so results cannot depend on which main ran
builders=$(grep -rn "SparkSession.builder" src/ | grep -v "^src/main/scala/graft/GraftSession.scala:" || true)
if [[ -n "$builders" ]]; then
  echo "[precommit] FAIL — SparkSession.builder outside GraftSession.scala:"
  echo "$builders"
  exit 1
fi

echo "[precommit] compiling main + test sources..."
sbt -batch compile Test/compile > /tmp/precommit_compile.log 2>&1 || {
  echo "[precommit] FAIL — compile broken; tail of log:"
  tail -20 /tmp/precommit_compile.log
  exit 1
}
echo "[precommit] compile green."

# the benchmark compiles src/main together with enginebench/src through
# its own build (enginebench/run.py); a src/main API change it depends
# on must fail here, not in every benchmark run
echo "[precommit] compiling the benchmark against src/main..."
python3 -B -c 'import sys; sys.path.insert(0, "enginebench"); import run; run.build()' \
    > /tmp/precommit_bench.log 2>&1 || {
  echo "[precommit] FAIL — benchmark build broken; tail of log:"
  tail -20 /tmp/precommit_bench.log
  exit 1
}
echo "[precommit] benchmark build green."

if [[ "${FULL:-0}" == "1" ]]; then
  echo "[precommit] running sf0.001 smoke (Verify)..."
  rm -rf /tmp/precommit_vout
  sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.001 /tmp/precommit_vout" \
    > /tmp/precommit_verify.log 2>&1 || {
    echo "[precommit] FAIL — Verify crashed; tail of log:"
    tail -20 /tmp/precommit_verify.log
    exit 1
  }
  if [[ -s /tmp/precommit_vout/_failed.json ]] \
      && ! grep -qx '{}' /tmp/precommit_vout/_failed.json; then
    echo "[precommit] FAIL — queries failed at sf0.001:"
    cat /tmp/precommit_vout/_failed.json
    exit 1
  fi
  echo "[precommit] smoke green."
fi
echo "[precommit] OK"
