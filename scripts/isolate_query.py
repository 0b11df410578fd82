"""Isolate one registry query's computation from its sink (guide §1.4).

For each named query: untimed warmup, then best-of-3 with the noop sink
(computation only) and best-of-3 with collect() (the bench's timed
action), plus the row count — so "slow query" decomposes into
"slow plan" vs "big driver transfer". Saves .explain("formatted") to
plans/r16/<query>_<tag>.txt when --save-plan <tag> is given.

Usage:
    python scripts/isolate_query.py <sf_dir> <query> [query ...]
        [--save-plan before|after]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    raw = sys.argv[1:]
    tag = None
    if "--save-plan" in raw:
        i = raw.index("--save-plan")
        tag = raw[i + 1]
        del raw[i:i + 2]
    sf_dir, names = raw[0], raw[1:]

    import __spark_entry__ as entrymod
    from dbldatagen_spark import local_session

    spark = local_session("isolate-query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def best3(fn) -> float:
        fn()  # warmup (codegen/JIT)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"{name}: noop")
        t_noop = best3(
            lambda: fn(spark, sf_dir)
            .write.format("noop").mode("overwrite").save()
        )
        spark.sparkContext.setJobDescription(f"{name}: collect")
        rows = []
        t_coll = best3(lambda: rows.append(len(fn(spark, sf_dir).collect())))
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: noop={t_noop}s collect={t_coll}s rows={rows[-1]} "
            f"sink_share={(t_coll - t_noop) / max(t_coll, 1e-9):.0%}",
            flush=True,
        )
        if tag:
            os.makedirs(os.path.join(REPO, "plans", "r16"), exist_ok=True)
            df = fn(spark, sf_dir)
            txt = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(REPO, "plans", "r16", f"{name}_{tag}.txt"), "w"
            ) as f:
                f.write(txt)
    spark.stop()


if __name__ == "__main__":
    main()
