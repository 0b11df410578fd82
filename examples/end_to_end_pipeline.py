"""End-to-end tour: generate a multi-table dataset, then run the
training-data pipeline operators over the driver's document/embedding
tables.

Run: python examples/end_to_end_pipeline.py
(Row counts scale down via EXAMPLE_ROWS for quick smoke runs.)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(os.environ.get("EXAMPLE_ROWS", "100000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from pyspark.sql import functions as F

    from dbldatagen_spark import (
        ColumnSpec,
        DataGenerator,
        DataGenPlan,
        ForeignKeyColumn,
        Normal,
        PatternColumn,
        RangeColumn,
        SequenceColumn,
        TableSpec,
        TimestampColumn,
        UUIDColumn,
        ValuesColumn,
        WeightedValues,
        Zipf,
        generate,
        local_session,
    )

    spark = local_session("dbldatagen_spark-example")
    spark.sparkContext.setLogLevel("ERROR")

    # ------------------------------------------------------------------
    # 1. Declarative multi-table plan with referential integrity
    #    (FK values re-derive the parent PK — no join, no parent scan)
    # ------------------------------------------------------------------
    plan = DataGenPlan(
        [
            TableSpec(
                "customers",
                max(ROWS // 100, 10),
                columns=[
                    ColumnSpec("customer_id", SequenceColumn(start=1), dtype="long"),
                    ColumnSpec("customer_code", PatternColumn("CUST-{digit:6}")),
                    ColumnSpec(
                        "segment",
                        ValuesColumn(
                            ["consumer", "corporate", "home_office"],
                            WeightedValues([5, 3, 2]),
                        ),
                    ),
                    ColumnSpec(
                        "signup_ts",
                        TimestampColumn("2020-01-01 00:00:00", "2024-12-31 23:59:59"),
                    ),
                ],
                primary_key="customer_id",
            ),
            TableSpec(
                "orders",
                ROWS,
                columns=[
                    ColumnSpec("order_id", UUIDColumn()),
                    ColumnSpec(
                        "customer_id",
                        ForeignKeyColumn("customers.customer_id",
                                         distribution=Zipf(1.2)),
                    ),
                    ColumnSpec(
                        "amount",
                        RangeColumn(1.0, 2500.0, distribution=Normal()),
                        dtype="decimal(9,2)",
                    ),
                    ColumnSpec("items", RangeColumn(1, 12), dtype="int"),
                ],
                primary_key="order_id",
            ),
        ],
        seed=42,
    )
    dfs = generate(spark, plan)
    orphans = (
        dfs["orders"]
        .join(F.broadcast(dfs["customers"].select("customer_id")),
              "customer_id", "left_anti")
        .count()
    )
    print(f"orders={dfs['orders'].count()} customers={dfs['customers'].count()} "
          f"fk_orphans={orphans}")

    # ------------------------------------------------------------------
    # 2. v0-style fluent builder (the reference's classic API)
    # ------------------------------------------------------------------
    events = (
        DataGenerator(spark, name="events", rows=max(ROWS // 10, 100), partitions=4)
        .withIdOutput()
        .withColumn("device", "string", values=["ios", "android", "web"],
                    weights=[5, 4, 1])
        .withColumn("latency_ms", "double", minValue=1.0, maxValue=500.0,
                    random=True, distribution="gamma(shape=2.0, scale=50.0)")
        .withColumn("phone", "string", template="ddd-ddd-dddd")
        .build()
    )
    events.groupBy("device").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("latency_ms"), 1).alias("avg_ms")
    ).show()

    # ------------------------------------------------------------------
    # 3. Training-data pipeline over the document corpus
    # ------------------------------------------------------------------
    from dbldatagen_spark.functions import (
        assign_training_shards,
        cross_corpus_near_duplicates,
        curate_corpus,
        exact_dedup,
        minhash_near_duplicates,
        ngram_contamination,
        redact_pii,
        repetition_metrics,
        strip_boilerplate_lines,
        token_vocabulary,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # scrub -> strip -> dedup -> quality-filter -> shard: the full flow
    # first pass: map-only normalization (control chars, typography,
    # whitespace), then PII scrub — both run inside the scan
    from dbldatagen_spark.functions import (
        dedup_lines_corpus,
        normalize_text,
        token_entropy,
    )

    normed = normalize_text(docs, "doc_id", "text").select(
        "doc_id", F.col("normalized_text").alias("text")
    )
    print("normalized docs:", normed.count())
    lines_deduped = dedup_lines_corpus(normed, "doc_id", "text")
    print("line-dedup removed:",
          lines_deduped.agg(F.sum("n_lines_removed")).first()[0], "lines")
    low_entropy = token_entropy(docs, "doc_id", "text").where(
        "entropy_bits < 2.0"
    )
    print("low-entropy (degenerate) docs:", low_entropy.count())
    scrubbed = redact_pii(docs, "doc_id", "text").select(
        "doc_id", F.col("redacted").alias("text")
    )
    stripped = strip_boilerplate_lines(scrubbed, "doc_id", "text").select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    print("exact dup groups:", exact_dedup(stripped, "doc_id", "text").count())
    print("near-dup pairs:",
          minhash_near_duplicates(docs, "doc_id", "text", threshold=0.7).count())
    rep = repetition_metrics(docs, "doc_id", "text")
    print("high-repetition docs:",
          rep.where("dup_line_fraction > 0.3 OR top_bigram_share > 0.2").count())
    kept = curate_corpus(docs, "doc_id", "text", lang="en", min_quality=0.5)
    print("curated docs:", kept.count())
    shards = assign_training_shards(docs, "doc_id", "text", target_tokens=2048)
    print("training shards:", shards.select("shard_id").distinct().count())
    print("top tokens:",
          [r["token"] for r in token_vocabulary(docs, "text", top_k=5).collect()])
    train = docs.where("doc_id % 2 = 0")
    test = docs.where("doc_id % 2 = 1")
    contaminated = ngram_contamination(train, test, "doc_id", "text", n=5)
    print("contaminated test docs:", contaminated.count())
    xdup = cross_corpus_near_duplicates(
        test, train, "doc_id", "text", threshold=0.5
    )
    print("eval docs near-duplicating train:",
          xdup.select("query_id").distinct().count())

    # ------------------------------------------------------------------
    # 4. Embedding pipeline: normalize -> PCA -> ANN
    # ------------------------------------------------------------------
    from dbldatagen_spark.functions import (
        cosine_topk,
        embedding_pca,
        normalize_embeddings,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb_n = normalize_embeddings(emb, "embedding")
    projected, comps, expl = embedding_pca(emb_n, "unit_vec", k=8,
                                           out_col="pca_vec")
    print(f"pca: {comps.shape[1]} components, "
          f"explained[0]={expl[0]:.4f}")
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    top = cosine_topk(emb, "vec_id", "embedding", q, k=3)
    print("top-3 neighbours of vec 0:",
          [(r["vec_id"], r["cosine"]) for r in top.collect()])

    # ------------------------------------------------------------------
    # 5. Event analytics: sessionization (skew-safe variant shown)
    # ------------------------------------------------------------------
    from dbldatagen_spark.functions import sessionize

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sessions = sessionize(ev, "user_id", "ts", gap_seconds=1800,
                          value_col="value", method="skew_safe",
                          bucket_seconds=86400)
    print("sessions (skew-safe):", sessions.count())

    # ------------------------------------------------------------------
    # 5b. Quality cascade: rules -> LM scoring -> targeted selection
    # ------------------------------------------------------------------
    from dbldatagen_spark.functions import (
        charlm_score,
        dsir_importance,
        duplicated_span_stats,
        gopher_quality_flags,
        semantic_dedup,
    )

    # synthetic vocab carries only "the" from the stop list -> loosen
    # that one rule; every threshold is an argument for exactly this
    flags = gopher_quality_flags(docs, "doc_id", "text", min_words=10,
                                 min_stop_word_hits=1)
    print("gopher pass_all:", flags.where("pass_all").count(), "/",
          flags.count())
    lm = charlm_score(docs, "doc_id", "text")
    print("median bits/char:",
          lm.approxQuantile("bits_per_char", [0.5], 0.01)[0])
    target = docs.where(F.col("source") == "src0")
    dsir = dsir_importance(docs, "doc_id", "text", target)
    print("docs weighted toward src0 domain:",
          dsir.where("log2_weight > 0").count())
    spans = duplicated_span_stats(docs, "doc_id", "text",
                                  window=10, stride=5)
    print("docs with duplicated spans:",
          spans.where("n_dup_spans > 0").count())
    sem = semantic_dedup(emb, "vec_id", "embedding",
                         method="kmeans", k=8, threshold=0.9)
    print("semantic dedup kept:", sem.where("keep").count(), "/", sem.count())

    # ------------------------------------------------------------------
    # 5c. Structured-data gates: entity resolution, privacy, gap fill
    # ------------------------------------------------------------------
    from dbldatagen_spark.functions import (
        fuzzy_match_records,
        k_anonymity_report,
        time_gap_fill,
    )

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    er = fuzzy_match_records(cust, "c_custkey", "c_name",
                             max_distance=1, block_len=16)
    print("near-duplicate name pairs:", er.count())
    ka = k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"],
                            sensitive_col="c_acctbal", k_threshold=5)
    print("quasi-classes violating k=5:",
          ka.where("violates_k").count(), "/", ka.count())
    filled = time_gap_fill(ev, "user_id", "ts", "value",
                           interval_seconds=21600, order_col="event_id")
    print("gap-filled lattice rows:", filled.count(),
          "(", filled.where("NOT was_observed").count(), "filled )")

    # ------------------------------------------------------------------
    # 6. Training-set assembly: weighted mix -> packed sequence layout
    # ------------------------------------------------------------------
    from dbldatagen_spark.functions import (
        mix_corpus,
        pack_sequences,
        packing_stats,
    )

    # 2 epochs of src0, half of src1, one pass of src2
    mixed = mix_corpus(docs, "doc_id", "source",
                       {"src0": 2.0, "src1": 0.5, "src2": 1.0})
    print("mixed corpus rows:", mixed.count())
    packed = pack_sequences(docs, "doc_id", "n_chars", 2048,
                            num_shards=16)
    waste = packing_stats(packed, 2048).agg(
        F.avg("tail_waste_frac").alias("w")).first()["w"]
    print(f"packed into 16 shards, mean tail waste {waste:.3f}")

    spark.stop()


if __name__ == "__main__":
    main()
