#!/usr/bin/env bash
# Full verification gauntlet — the four oracle-parity modes plus the
# test suite. Everything here is what the per-round claims in README.md
# rest on; run after any operator change.
#
# Each oracle_check run is enforced: a FAIL/MISMATCH row aborts the
# script. oracle_check.py exits 1-if-any-failure (never the raw count,
# which would wrap modulo 256) and prints a final "FAILURES <n>" line;
# a missing FAILURES line means the checker crashed, reported
# distinctly. (Earlier revisions piped through `grep || true`, which
# failed open — flagged in round-5 ADVICE.md and fixed here.)
#
#   bash tools/verify_all.sh [sf_dir_small] [sf_dir_big]
set -euo pipefail
cd "$(dirname "$0")/.."

SMALL="${1:-/root/testdata/sf0.01}"
BIG="${2:-/root/testdata/sf0.1}"

oracle_mode () {  # oracle_mode <label> <cmd...>
  local label="$1"; shift
  echo "== ${label}"
  local out status=0
  out=$("$@") || status=$?
  # Show only the interesting lines (non-OK), but judge on the status
  # plus the checker's own FAILURES tally (absent => it crashed).
  printf '%s\n' "$out" | grep -v '^OK ' || true
  local tally
  tally=$(printf '%s\n' "$out" | sed -n 's/^FAILURES \([0-9]*\)$/\1/p' | tail -1)
  if [ -z "$tally" ]; then
    echo "ORACLE CHECKER CRASHED (no FAILURES line, exit ${status}) in mode: ${label}"
    exit 1
  fi
  if [ "$status" -ne 0 ] || [ "$tally" -ne 0 ]; then
    echo "ORACLE PARITY FAILED (${tally} key(s)) in mode: ${label}"
    exit 1
  fi
}

oracle_mode "1/6 oracle parity @ ${SMALL} (driver scale)" \
  python tests/oracle_check.py "$SMALL"

oracle_mode "2/6 oracle parity @ ${BIG} (10x driver scale)" \
  python tests/oracle_check.py "$BIG"

oracle_mode "3/6 oracle parity @ ${SMALL} under a shifted host timezone" \
  env TZ=America/New_York python tests/oracle_check.py "$SMALL"

echo "== 4/6 odd-partitioning parity (5 cores, 7 shuffle partitions)"
python - "$SMALL" <<'EOF'
import sys
import duckdb
sys.path.insert(0, ".")
sys.path.insert(0, "tests")
from oracle_check import _canon
from flinkproj_spark import registry
from flinkproj_spark.session import build_session
from flinkproj_spark.sources.tables import register_oracle_views
sf_dir = sys.argv[1]
spark = build_session("oddpart", cpus=5,
                      extra_conf={"spark.sql.shuffle.partitions": "7"})
con = duckdb.connect()
register_oracle_views(con, sf_dir)
qs, oracles = registry.queries(), registry.oracle_sql()
bad = []
for k, fn in qs.items():
    if k not in oracles:
        continue
    sdf = fn(spark, sf_dir).toPandas()
    spark.catalog.clearCache()
    if _canon(sdf) != _canon(con.execute(oracles[k]).df()):
        bad.append(k)
        print("MISMATCH", k)
print("odd-partitioning mismatches:", bad if bad else "none")
spark.stop()
sys.exit(1 if bad else 0)
EOF

echo "== 5/6 physical-plan lint (anti-pattern scan, whitelist-enforced)"
LINT_DIR="${SMALL%0.01}0.001"
[ -d "$LINT_DIR" ] || LINT_DIR="$SMALL"
python tools/plan_lint.py "$LINT_DIR" || { echo "PLAN LINT FAILED"; exit 1; }

echo "== 6/6 test suite"
python -m pytest tests/ -q

echo "ALL VERIFICATION MODES CLEAN"
