"""Write .explain("formatted") for named registry queries to plans/<dir>/.

Plan-only (no query execution beyond any eager scalar a query's own
construction runs), so it is cheap enough to capture before/after plans
for every touched query.

Usage: python scripts/capture_plans.py <out_dir> <tag> <sf_dir> <query> [...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out_dir, tag, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]

    import __spark_entry__ as entrymod
    from dbldatagen_spark import local_session

    spark = local_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print("wrote", name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
