#!/bin/bash
# Plan-invariance gate: results must not depend on how Spark plans a query
# or on which side of a driver-gather ceiling an operator runs.
#
# Dumps the queries named in SPARK_GRAFT_ONLY (every registered query when
# unset) with graft.Verify five times: default settings, AQE off, one core
# (SPARK_GRAFT_CPUS=1), no broadcast joins, and every driver-gather
# ceiling at 0 (SPARK_GRAFT_CC_SMALL_EDGES=0: Spark-side connected
# components and identifier dims). The default dump is checked against
# the DuckDB oracle; every other dump must be identical to it
# (tools/check.py --compare, the oracle check's row-sorted value hash).
#
# Usage: SPARK_GRAFT_ONLY=q1,q2 tools/regime_gate.sh <sfDir> <outDir>
# Needs compiled classes (sbt compile). Each dump and its log land in
# <outDir>/<setting>; exits non-zero if any run or comparison fails.
set -u
if [ $# -ne 2 ]; then
  echo "usage: [SPARK_GRAFT_ONLY=names] $0 <sfDir> <outDir>" >&2
  exit 2
fi
SF="$1"
OUT="$2"
cd "$(dirname "$0")/.."
rm -rf "$OUT"
mkdir -p "$OUT"
fail=0

# run <setting> [VAR=value ...]: one graft.Verify dump under extra env
run() {
  local name="$1"
  shift
  if env "$@" tools/bench_direct.sh graft.Verify "$SF" "$OUT/$name" \
      > "$OUT/$name.log" 2>&1; then
    echo "dumped $name"
  else
    echo "✗ $name: graft.Verify failed (see $OUT/$name.log)"
    fail=1
  fi
}

run default
run no_aqe JAVA_TOOL_OPTIONS=-Dspark.sql.adaptive.enabled=false
run one_cpu SPARK_GRAFT_CPUS=1
run no_broadcast JAVA_TOOL_OPTIONS=-Dspark.sql.autoBroadcastJoinThreshold=-1
run spark_side SPARK_GRAFT_CC_SMALL_EDGES=0

python3 tools/check.py "$SF" "$OUT/default" || fail=1
for v in no_aqe one_cpu no_broadcast spark_side; do
  echo "== default vs $v"
  python3 tools/check.py --compare "$OUT/default" "$OUT/$v" || fail=1
done
exit $fail
