"""Wall-time every registry query once (single session, registry order).

A coarse performance sweep to catch correct-but-slow outliers the
per-query oracle gate can't see (it only checks values).  First
executions include codegen/JIT, so compare queries against each other
within one run, not against bench.py's steady-state numbers.

Usage: python scripts/time_all.py [sf_dir] [threshold_sec]
Prints one line per query; a trailing OUTLIERS section lists queries
slower than threshold (default 8 s).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 8.0

    import __spark_entry__ as entrymod
    from dbldatagen_spark import local_session

    spark = local_session("time-all")
    spark.sparkContext.setLogLevel("ERROR")

    timings = []
    for name, fn in entrymod.queries().items():
        t0 = time.perf_counter()
        try:
            rows = len(fn(spark, sf_dir).collect())
            err = None
        except Exception as exc:  # noqa: BLE001 - sweep must cover all
            rows, err = -1, f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        timings.append((name, dt, rows, err))
        print(f"{dt:8.1f}s  rows={rows:<8d} {name}" + (f"  ERR {err}" if err else ""), flush=True)

    print("\nOUTLIERS (> %.1fs):" % threshold)
    for name, dt, rows, err in sorted(timings, key=lambda t: -t[1]):
        if dt > threshold:
            print(f"{dt:8.1f}s  {name}")
    print(f"\nTOTAL: {sum(t[1] for t in timings):.1f}s over {len(timings)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
