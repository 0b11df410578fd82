"""Physical-plan audit over every driver-contract query.

For each ``queries()`` entry, counts the plan features that matter at
100 TB — shuffle exchanges, broadcast vs sort-merge joins, Python-UDF
evaluation nodes, and whole-stage-codegen subtrees that fail to compile
(generated method past the JVM's 64 KB limit -> silent interpreted
fallback) — and writes a markdown table to PLANS.md. A query whose
shuffle count creeps up in a refactor shows up as a diff here before it
shows up as a regression in BENCH.

Usage: python scripts/audit_plans.py [sf_dir] [--update]
  (default sf_dir /root/testdata/sf0.01; --update rewrites PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FEATURES = {
    "shuffles": r"Exchange (?:hash|range)partitioning",
    "broadcasts": r"Broadcast(?:Hash|NestedLoop)Join",
    "sort_merge_joins": r"SortMergeJoin",
    "py_udf_nodes": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
}


def main() -> None:
    from dbldatagen_spark import local_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
        else "/root/testdata/sf0.01"
    update = "--update" in sys.argv

    import __spark_entry__ as entrymod

    spark = local_session("plan-audit")
    # AQE off so the codegen explain sees concrete WholeStageCodegen
    # subtrees (under AQE the pre-execution plan is a lazy
    # AdaptiveSparkPlan with none); the counted node set matches the
    # AQE initial plan, so the feature counts are unchanged
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("FATAL")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    cg_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "codegen"
    )

    rows = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
            # codegen health: explain-codegen COMPILES every
            # whole-stage subtree; a generated method past the JVM's
            # 64 KB limit reports maxMethodCodeSize:-1 and would run
            # interpreted (the expression tree re-executes every
            # duplicated subtree per row) — a silent scale killer this
            # column makes loud
            cg = df._jdf.queryExecution().explainString(cg_mode)
            fallbacks = cg.count("maxMethodCodeSize:-1")
            # Count DISTINCT node texts, not raw matches: a cached subtree
            # (InMemoryRelation) is printed verbatim at every reference
            # site but executes once to populate the cache, and a repeated
            # identical Exchange is a ReusedExchange at runtime.  Nodes
            # that genuinely execute separately carry distinct expression
            # IDs, so they never collapse.  (Matching from the node name to
            # end-of-line drops the tree-drawing prefix, which varies with
            # the reference site's depth.)  Known limit: two nodes that
            # genuinely execute separately yet print identically (same
            # attribute IDs inside one cached-subtree boundary) dedupe to
            # one, so a count can read low in rare plans — acceptable for
            # a documentation audit; count ReusedExchange/InMemoryRelation
            # nodes explicitly if per-execution precision ever matters.
            counts = {
                k: len(set(re.findall(pat + r"[^\n]*", plan)))
                for k, pat in FEATURES.items()
            }
            counts["codegen_fallbacks"] = fallbacks
            rows.append((name, counts, None))
        except Exception as exc:  # noqa: BLE001 - audit must cover every query
            rows.append((name, None, f"{type(exc).__name__}: {exc}"))

    lines = [
        "# PLANS — physical-plan audit of every driver-contract query",
        "",
        f"Generated by `scripts/audit_plans.py` at `{sf_dir}`. Counts are",
        "DISTINCT plan-node texts at audit scale — a cached subtree",
        "(`InMemoryRelation`) prints at every reference site but executes",
        "once, and a repeated identical Exchange is a `ReusedExchange` at",
        "runtime, so each counts once; separately-executed nodes carry",
        "distinct expression IDs and never collapse. Broadcast/shuffle",
        "split can shift with AQE and table sizes at other scales. Queries that",
        "collect driver-side state before planning (PCA, LSH probes,",
        "multi-build invariants) audit the final projection's plan.",
        "`codegen fallbacks` counts whole-stage subtrees whose generated",
        "method exceeds the JVM's 64 KB limit under explain-codegen",
        "(`maxMethodCodeSize:-1`) and would execute interpreted — the",
        "silent per-row re-evaluation hazard; the target is 0 everywhere.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | python-UDF nodes | codegen fallbacks |",
        "|---|---|---|---|---|---|",
    ]
    bad = 0
    for name, counts, err in rows:
        if err:
            lines.append(f"| {name} | audit error: {err} | | | | |")
            bad += 1
            continue
        lines.append(
            f"| {name} | {counts['shuffles']} | {counts['broadcasts']} | "
            f"{counts['sort_merge_joins']} | {counts['py_udf_nodes']} | "
            f"{counts['codegen_fallbacks']} |"
        )
    totals = [r[1] for r in rows if r[1]]
    lines += [
        "",
        f"Totals: {len(totals)} queries audited, "
        f"{sum(c['shuffles'] for c in totals)} shuffles, "
        f"{sum(c['broadcasts'] for c in totals)} broadcast joins, "
        f"{sum(c['sort_merge_joins'] for c in totals)} sort-merge joins, "
        f"{sum(c['py_udf_nodes'] for c in totals)} python-UDF nodes, "
        f"{sum(c['codegen_fallbacks'] for c in totals)} whole-stage "
        f"subtrees falling back to interpreted evaluation "
        f"(maxMethodCodeSize:-1 under explain-codegen; target 0).",
        "",
    ]
    out = "\n".join(lines)
    if update:
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "PLANS.md"), "w") as f:
            f.write(out)
        print(f"PLANS.md written ({len(totals)} ok, {bad} errors)")
    else:
        print(out)
    spark.stop()


if __name__ == "__main__":
    main()
