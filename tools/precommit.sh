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
# session-memo scratch that predates this run (see the check after verify)
memo_tmp() { find /tmp -maxdepth 1 \( -name 'graft-shared-*' -o -name 'graft-bpe-*' \) | sort; }
memo_tmp > "$OUT/memo_tmp.before"

echo "== leakcheck (timestamped, commit-stamped) =="
python3 tools/leakcheck.py

echo "== compile =="
sbt -batch compile

echo "== perfbench compile (the benchmark's JVM side against this checkout) =="
(cd perfbench && sbt -batch compile)

echo "== verify @ $SF =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT"

echo "== session-memo scratch left behind =="
# graft.models.Shared deletes its scratch when the application stops;
# a leftover dir here, or a new memo dir in /tmp, is a leak
left="$(find spark-warehouse/.graft-shared -mindepth 1 -type d 2>/dev/null || true)"
new_tmp="$(memo_tmp | comm -13 "$OUT/memo_tmp.before" -)"
if [ -n "$left$new_tmp" ]; then
  echo "memo scratch leaked:"; echo "$left"; echo "$new_tmp"; exit 1
fi

echo "== oracle compare =="
python3 tools/check.py "$SF" "$OUT"

echo "== bench @ $SF (rc + per-query JSON) =="
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Bench" \
  | grep -o '{"metric".*}' | tee "$OUT/bench.json" >/dev/null
python3 -c "import json,sys;d=json.load(open('$OUT/bench.json'));print('bench: %.1fs over %d queries, errors %s'%(d['value'],d['queries_run'],d['errors']));sys.exit(1 if d['errors'] else 0)"

echo "PRECOMMIT GREEN ($OUT)"
