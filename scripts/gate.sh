#!/bin/bash
# End-of-round gate: every snapshot commit must be preceded by a green run
# of this script (compile + full test suite + oracle verify at sf0.01).
# Round 5 shipped a compile error and lost its whole gate cycle — this
# makes the pre-commit check mechanical instead of remembered.
set -eo pipefail
cd /root/repo
echo "[gate] sbt compile" && sbt -batch compile
echo "[gate] sbt test" && sbt -batch test
echo "[gate] oracle verify (sf0.01)" && scripts/run_verify.sh /root/testdata/sf0.01
# Artifact hygiene: the snapshot commit must include the bench/correctness
# artifacts it cites. Two rounds running (r16, r17) the round's real
# BENCH_LOCAL.json / BENCH_rN.json / CORRECTNESS_rN.json sat untracked or
# stale at HEAD while docs cited their numbers — a later judge diffing
# committed state reads a phantom round. Fail loudly if any are dirty.
DIRTY=$(git status --porcelain -- BENCH_LOCAL.json 'BENCH_r*.json' 'CORRECTNESS_r*.json' LEAKCHECK.json)
if [ -n "$DIRTY" ]; then
  echo "[gate] FAIL: round artifacts dirty/untracked — commit them in the snapshot:"
  echo "$DIRTY"
  exit 1
fi
# Regression list, computed from the exact artifact being committed
# (r18 verdict #1: the round-close claim quotes THIS output — never a
# hand-computed list that can drift from the committed file).
echo "[gate] bench regression list" && python3 scripts/bench_regressions.py
# net Scala line count of the engine, a tracked number (ROADMAP aim 2)
echo "[gate] src/main Scala lines: $(find src/main -name '*.scala' | xargs cat | wc -l)"
# distinct session conf keys the engine reads, a tracked number (ROADMAP aim 2)
echo "[gate] src/main spark.graft.* conf keys: $(grep -rhoE '"spark\.graft\.[A-Za-z0-9_.]+"' src/main | sort -u | wc -l)"
# footer-inference ("mergeSchema") reads in the engine, a tracked number
# (ROADMAP item 5: a table's schema is its `_schema.json`, io/TableSchema)
echo "[gate] src/main mergeSchema reads: $(grep -rho '"mergeSchema"' src/main | wc -l)"
# dev entry points in the engine, a tracked number (ROADMAP aim 2: one
# measurement harness, not ten dev mains)
echo "[gate] src/main entry points (def main): $(grep -rho 'def main(args' src/main | wc -l)"
echo "[gate] GREEN"
