#!/usr/bin/env bash
# Driver-replica pre-commit gate: compile, dump every query at sf0.001,
# DuckDB-compare, and run the bench once — the same three surfaces the
# round driver grades (Verify -> CORRECTNESS, Bench -> BENCH, smoke),
# so an environment-sensitive break (e.g. a testdata re-encoding)
# surfaces locally before the driver run, not during it.
#
# Usage: tools/precommit.sh [sf-dir]     (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
OUT="$(mktemp -d /tmp/graft-precommit.XXXXXX)"

echo "== leakcheck (timestamped, commit-stamped) =="
python3 tools/leakcheck.py

echo "== compile =="
sbt -batch compile

echo "== perfbench compile (the benchmark's JVM side against this checkout) =="
(cd perfbench && sbt -batch compile)

echo "== verify @ $SF =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT"

echo "== oracle compare =="
python3 tools/check.py "$SF" "$OUT"

echo "== bench @ $SF (rc + per-query JSON) =="
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Bench" \
  | grep -o '{"metric".*}' | tee "$OUT/bench.json" >/dev/null
python3 -c "import json;d=json.load(open('$OUT/bench.json'));print('bench ok: %.1fs over %d queries'%(d['value'],len(d['queries'])))"

echo "PRECOMMIT GREEN ($OUT)"
