#!/usr/bin/env bash
# Full verification gate in one shot: unit/property/duel specs, the driver's
# correctness dump at sf0.01, and the per-round benchmark at sf0.1.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== sbt test (codec properties, analyzer fixtures, rank-identity duels,"
echo "   merge/deletes/positions/streaming specs) =="
sbt -batch test

echo "== Verify: every entry of the registry (SparkEntry.entries, declared in"
echo "   src/main/scala/graft/entries/) -> parquet + oracle_sql.json =="
OUT=${1:-/tmp/graft-verify-out}
rm -rf "$OUT"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT"
echo "wrote $OUT (driver compares each <name>.parquet against its DuckDB oracle)"

echo "== DuckDB oracle self-check (fails the gate on any mismatch) =="
python3 scripts/oracle_check.py "$OUT" /root/testdata/sf0.01

echo "== Bench at sf0.1 (fails unless its last stdout line is JSON) =="
# Bench's own lines pass through bare; sbt's carry a [level] tag
BENCH_LOG=$(mktemp)
trap 'rm -f "$BENCH_LOG"' EXIT
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  sbt -batch "runMain graft.Bench" | tee "$BENCH_LOG"
grep -v '^\[\(info\|success\|warn\|error\)\]' "$BENCH_LOG" | tail -n 1 |
  python3 -c 'import json, sys; json.loads(sys.stdin.read())' ||
  { echo "Bench's last stdout line is not JSON" >&2; exit 1; }
