#!/usr/bin/env bash
# One-command oracle gate: runs graft.Verify for the given queries at one
# scale factor, then tools/check.py over its output. Exits non-zero on any
# FAIL, on a Spark-side query failure, or when an output is missing.
#
# Usage: tools/gate.sh <sfDir> [key ...]
#   keys are full query names or key prefixes (`d20` = `d20_pq_ann`);
#   no keys = every registry query.
# Outputs and logs go to a fresh temp dir, printed at the start and kept.
# Env: SPARK_GRAFT_CPUS (default 4).
# sbt runs offline (as perfbench/run.py runs it) unless SBT_OPTS is set.
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <sfDir> [key ...]" >&2; exit 2; }
sf=$1; shift
cd "$(dirname "$0")/.."
out=$(mktemp -d -t graft_gate.XXXXXX)
log="$out/verify.log"
export COURSIER_MODE=offline
if [ -z "${SBT_OPTS:-}" ]; then
  SBT_OPTS="-Xmx2g -Dsbt.offline=true"
  repos="$HOME/.sbt/repositories"
  [ -f "$repos" ] && SBT_OPTS+=" -Dsbt.override.build.repos=true -Dsbt.repository.config=$repos"
  export SBT_OPTS
fi
echo "[gate] sf=$sf out=$out keys=${*:-all}"
if ! sbt -batch "runMain graft.Verify $sf $out $*" >"$log" 2>&1; then
  tail -n 40 "$log" >&2
  echo "[gate] FAIL: graft.Verify exited non-zero (log: $log)" >&2
  exit 1
fi
failed=$(grep -c "\[verify\] .* failed:" "$log" || true)
grep "\[verify\] .* failed:" "$log" >&2 || true
status=0
python3 tools/check.py "$sf" "$out" "$@" | tee "$out/check.log" || status=1
if [ "$failed" -ne 0 ]; then
  echo "[gate] FAIL: $failed query(ies) raised in graft.Verify" >&2
  status=1
fi
[ "$status" -eq 0 ] && echo "[gate] PASS sf=$sf" || echo "[gate] FAIL sf=$sf" >&2
exit "$status"
