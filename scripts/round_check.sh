#!/usr/bin/env bash
# The full end-of-round verification battery, in the order that found
# real bugs in rounds 1-7. Run on a QUIET box (no concurrent Spark —
# bench totals swing 50-155s under load; see BASELINE.md's noise record).
#
# Usage: bash scripts/round_check.sh [--skip-bench] [--skip-pytest]
set -uo pipefail
cd "$(dirname "$0")/.."

SKIP_BENCH=0
SKIP_PYTEST=0
for a in "$@"; do
  case "$a" in
    --skip-bench) SKIP_BENCH=1 ;;
    --skip-pytest) SKIP_PYTEST=1 ;;
    *) echo "unknown arg: $a" >&2; exit 2 ;;
  esac
done

fail=0
step() { echo; echo "==== $* ===="; }

# Every driver_sim pass below runs the replica compare through BOTH the
# string-keyed multiset check AND the driver's exact pandas-canonicalization
# (sort_values over all columns, complex-typed schemas rejected up front) —
# oracle_check.compare() since round 9, so the full registry gets the
# driver-shaped canon pass the round-8 q98 gate failure called for.
step "driver_sim @ sf0.01 (the driver's correctness scale)"
python scripts/driver_sim.py /root/testdata/sf0.01 | tail -2 || fail=1

step "driver_sim @ sf0.1 (oracle portability — half-boundary/blocking bugs)"
python scripts/driver_sim.py /root/testdata/sf0.1 | tail -2 || fail=1

step "driver_sim @ sf0.001 (small-data edge cases: empty groups, 1-row arms)"
python scripts/driver_sim.py /root/testdata/sf0.001 | tail -2 || fail=1

step "TZ=America/New_York driver_sim (naive-datetime / driver-OS-tz traps)"
TZ=America/New_York python scripts/driver_sim.py /root/testdata/sf0.01 | tail -2 || fail=1

step "registry idempotency + trailing-slash sf_dir"
python - <<'EOF' || fail=1
import sys
sys.path.insert(0, ".")
import __spark_entry__ as e
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
q1, q2 = e.queries(), e.queries()
assert q1.keys() == q2.keys() and e.oracle_sql() == e.oracle_sql()
assert q1["q01_pricing_summary"](spark, "/root/testdata/sf0.001/").count() > 0
print("probes OK; entry rows:", e.entry(spark).count())
EOF

if [ "$SKIP_PYTEST" = 0 ]; then
  step "pytest (full)"
  python -m pytest tests/ -q -p no:cacheprovider | tail -2 || fail=1
fi

if [ "$SKIP_BENCH" = 0 ]; then
  step "bench @ sf0.1 + per-query regression gate"
  # bench.py prints exactly one stdout line: the full per-query record.
  # Gate on THIS run's stdout, never the committed BENCH_SELF.json
  # (bench.py tolerates a failed self-write on read-only checkouts, so
  # the repo file can be stale). Redirect to a file rather than a pipe
  # so bench.py's own exit code is observed.
  python bench.py >/tmp/round_check_bench.json 2>/dev/null || fail=1
  python scripts/bench_compare.py /tmp/round_check_bench.json | tail -4 || fail=1
fi

echo
if [ "$fail" = 0 ]; then echo "ROUND CHECK: ALL GREEN"; else echo "ROUND CHECK: FAILURES ABOVE"; fi
exit $fail
