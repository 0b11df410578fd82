"""Corpus-survey pipeline: size, cardinality, vocabulary, and overlap
statistics for a raw corpus — the questions asked BEFORE committing a
100 TB dataset to a training run, answered from sketches and samples
instead of full scans:

1. **Subset sums from one tiny sample** — `priority_sample` keeps 8
   docs per source with Duffield-Lund-Thorup estimator weights; the
   same sample then answers "chars per source" AND "chars per
   language" unbiased, with no second scan.
2. **Distinct counts in 256 ints per group** — `hll_sketch` per-source
   HyperLogLog registers; merged by `hll_merge_expr` they answer the
   corpus-wide cardinality without resketching (union law, exact at
   register granularity).
3. **Tokenizer preview** — `bpe_train` learns the first merges the
   corpus would produce, over the distinct-word vocabulary rather than
   the corpus (the collapse that keeps BPE tractable at scale).
4. **Quote/subset duplicates** — `containment_pairs` finds documents
   >= 80% shingle-contained in another, the near-dup class Jaccard
   structurally misses.

Run: python examples/corpus_survey_pipeline.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbldatagen_spark import local_session
from dbldatagen_spark.functions import (
    bpe_train,
    containment_pairs,
    hll_merge_expr,
    hll_sketch,
    priority_sample,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = local_session("corpus-survey-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))

    print("== 1. priority sample: per-source char totals from 8 docs each ==")
    sample = priority_sample(
        docs, "doc_id", "n_chars", 8, group_cols=["source"]
    ).cache()
    est = sample.groupBy("source").agg(
        F.round(F.sum("w_hat"), 1).alias("est_chars")
    )
    exact = docs.groupBy("source").agg(F.sum("n_chars").alias("exact_chars"))
    est.join(exact, "source").orderBy("source").show(5)

    # the SAME sample answers a different subset question — per language
    print("   ... and per-language totals from the same sample:")
    lang_est = (
        sample.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.round(F.sum("w_hat"), 1).alias("est_chars"))
    )
    lang_exact = docs.groupBy("lang").agg(F.sum("n_chars").alias("exact_chars"))
    lang_est.join(lang_exact, "lang").orderBy("lang").show()
    sample.unpersist()

    print("== 2. HLL: per-type distinct users; merged == corpus-wide ==")
    per_type = hll_sketch(events, "user_id", group_cols=["event_type"], p=8)
    per_type.select("event_type", F.round("dv_estimate", 1).alias("est")).show()
    merged = (
        per_type.agg(F.collect_list("registers").alias("s"))
        .select(hll_merge_expr(F.col("s"), p=8).alias("registers"))
    )
    from dbldatagen_spark.functions import hll_estimate_expr

    global_est = merged.select(
        F.round(hll_estimate_expr(F.col("registers"), p=8), 1).alias("est")
    ).collect()[0]["est"]
    exact_users = events.agg(F.countDistinct("user_id")).collect()[0][0]
    print(f"   merged global estimate {global_est} vs exact {exact_users}")

    print("== 3. BPE preview: first 8 merges the corpus would learn ==")
    for left, right, n in bpe_train(docs, "text", 8):
        print(f"   {left!r} + {right!r} -> {left + right!r}  (count {n})")

    print("== 4. containment: docs >= 80% embedded in another ==")
    containment_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8
    ).orderBy(F.col("containment_a_in_b").desc()).show(5)

    spark.stop()


if __name__ == "__main__":
    main()
