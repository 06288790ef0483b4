"""Simulate the driver's verify pass through the public contract.

Imports ``__spark_entry__`` exactly as the driver would, builds a *vanilla*
SparkSession (none of our session-factory tuning — the driver owns the
session), runs entry() + every queries() entry at the given sf_dir, and
compares each against oracle_sql() via DuckDB with order-insensitive,
name-sorted-column value comparison.

Usage: python scripts/driver_sim.py [sf_dir] [--only name1,name2,...] [--master URL]
       (--only: substring-or-exact match filter for targeted re-probes;
        --master: the session's master, default local[8]; a caller of
        entry() builds its own session with any core count, so results
        must not depend on it)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> int:
    args = list(sys.argv[1:])

    def option(flag: str, default: str) -> str:
        if flag not in args:
            return default
        i = args.index(flag)
        value = args[i + 1]
        del args[i:i + 2]
        return value

    only = [n for n in option("--only", "").split(",") if n]
    master = option("--master", "local[8]")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    import __spark_entry__ as e

    spark = SparkSession.builder.master(master).appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if not only:
        rows = e.entry(spark).collect()
        print(f"entry: OK rows={len(rows)} cols={e.entry(spark).columns}")

    from tests.oracle_check import compare

    qs, oracles = e.queries(), e.oracle_sql()
    if only:
        qs = {n: f for n, f in qs.items()
              if any(sel == n or sel in n for sel in only)}
    failed = []
    for name in sorted(qs):
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                compare(df, oracles[name], sf_dir)
                status = "MATCH"
            else:
                n = df.count()
                status = f"ROWS-ONLY n={n}"
        except Exception as ex:  # noqa: BLE001
            status = f"FAIL {type(ex).__name__}: {ex}"
            failed.append(name)
            # failures are rare and easy to lose in scrollback — keep a
            # durable record so an intermittent one can be diagnosed later
            with open("/tmp/driver_sim_failures.log", "a") as f:
                f.write(f"{time.strftime('%F %T')} {sf_dir} {name}: {status}\n")
        # flushed per query, so JVM stderr (task errors, stack traces)
        # lands just above the line of the query that was running, even
        # when stdout is piped to a file
        print(f"{name}: {status} ({time.perf_counter() - t0:.2f}s)", flush=True)

    print(f"\n{len(qs) - len(failed)}/{len(qs)} queries OK at {sf_dir}")
    if failed:
        print(f"FAILED: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
