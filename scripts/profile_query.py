#!/usr/bin/env python
"""Profile one registry query's physical execution: wall time plus the
per-node SQL metrics that matter at scale — shuffle bytes/rows written,
spill, and output rows per operator.

Usage:
    python scripts/profile_query.py <query> [sf_dir]

`bench.py` answers "how fast"; this answers "where did the bytes go" —
the feedback loop for deciding whether a shuffle is carrying keys (fine)
or payloads (fix it). Reads the executed plan's accumulator metrics
after a count(), so AQE's final plan is what gets reported.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    import __spark_entry__ as entrymod
    from dbldatagen_spark import local_session

    spark = local_session(f"profile-{qname}")

    queries = entrymod.queries()
    if qname not in queries:
        print(f"unknown query {qname!r}; {len(queries)} available")
        sys.exit(2)

    df = queries[qname](spark, sf_dir)
    t0 = time.time()
    n = len(df.collect())  # collect() executes THIS df's plan, so its
    wall = time.time() - t0  # accumulators (not a wrapping count's) fill

    jdf = df._jdf
    plan = jdf.queryExecution().executedPlan()
    # AQE: the outer AdaptiveSparkPlan carries no metrics; the executed
    # final plan (post-reoptimization) holds the populated accumulators
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()

    interesting = (
        "shuffleBytesWritten",
        "shuffleRecordsWritten",
        "bytesWritten",
        "recordsRead",
        "spillSize",
        "numOutputRows",
        "dataSize",
        "numFiles",
        "filesSize",
        "peakMemory",
    )

    rows = []

    def walk(node, depth):
        name = node.nodeName()
        metrics = node.metrics()
        it = metrics.iterator()
        picked = []
        while it.hasNext():
            kv = it.next()
            label = str(kv._1())
            if any(k in label for k in interesting):
                v = kv._2().value()
                if v:
                    picked.append((label, v))
        if picked:
            rows.append((depth, name, picked))
        # QueryStage wrappers hide their subtree behind .plan()
        if "QueryStage" in name:
            walk(node.plan(), depth + 1)
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), depth + 1)

    walk(plan, 0)

    print(f"query={qname} sf_dir={sf_dir} rows={n} wall={wall:.3f}s")
    for depth, name, picked in rows:
        print("  " * depth + f"- {name}")
        for label, v in picked:
            print("  " * depth + f"    {label}: {v}")


if __name__ == "__main__":
    main()
