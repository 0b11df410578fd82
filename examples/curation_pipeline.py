"""LLM training-data curation, end to end: the round-5 operator set
chained the way a production pipeline would run it.

    raw documents
      -> per-domain quota (no source dominates)
      -> exact dedup  -> MinHash near-dup scrub
      -> quality gates (Gopher flags + expectation suite)
      -> token-budget selection per source
      -> contrastive negatives for the retrieval head
      -> sequence packing stats + split assignment
    plus the monitoring lane: PSI drift, hot keys, sequence gaps.

Run: python examples/curation_pipeline.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from pyspark.sql import functions as F

    from dbldatagen_spark import local_session
    from dbldatagen_spark.functions import (
        contrastive_negatives,
        budget_select,
        exact_dedup,
        expectation_report,
        gopher_quality_flags,
        hot_key_report,
        minhash_cluster_dedup,
        psi_report,
        quota_sample,
        sequence_gaps,
        split_assign,
    )

    spark = local_session("curation-pipeline")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n0 = docs.count()

    # 0. URL canonicalization: the documents table has no URL column,
    #    so demonstrate on synthetic crawl URLs — scheme/www/tracking
    #    noise collapses to one dedup key; the registrable domain is
    #    the quota unit a crawl pipeline would use in step 1.
    from dbldatagen_spark.functions import canonicalize_urls

    crawl = spark.createDataFrame(
        [(1, "HTTP://WWW.Example.COM/a?utm_source=x&b=2"),
         (2, "https://example.com/a?b=2"),
         (3, "https://blog.shop.co.uk/p?gclid=z")],
        "id long, url string",
    )
    canon = canonicalize_urls(crawl, "url")
    print("canonical URL keys (1 and 2 collapse):")
    canon.show(truncate=False)

    # 0b. link-graph priors over the same crawl: host authority
    #     (weighted fixed-point pagerank over host-level edges) and
    #     the per-target-host anchor-text profile — both quality
    #     signals a crawl pipeline joins back onto documents by host
    from dbldatagen_spark.functions import (
        anchor_text_profile,
        host_authority,
    )

    links = spark.createDataFrame(
        [("https://example.com/a", "https://blog.shop.co.uk/p",
          "Shop Blog"),
         ("https://example.com/b", "https://blog.shop.co.uk/q",
          "  shop\tblog "),
         ("https://news.org/1", "https://example.com/a",
          "Example Site")],
        "src string, dst string, anchor string",
    )
    print("host authority (3 pagerank iterations):")
    auth = host_authority(links, "src", "dst", iterations=3)
    auth.show(truncate=False)
    print("anchor profile per target host (anchors normalize):")
    anchor_text_profile(links, "src", "dst", "anchor").show(truncate=False)
    print("same profile at registrable-domain level (PSL collapse —")
    print("blog.shop.co.uk folds into shop.co.uk):")
    anchor_text_profile(
        links, "src", "dst", "anchor", level="domain"
    ).show(truncate=False)

    # 0c. the rank CONSUMED: keep documents at a rate interpolated on
    #     their host's authority (top host at the ceiling, unknown
    #     hosts at the floor — never silently zero), flags auditable
    from dbldatagen_spark.functions import authority_weighted_sample

    crawl_docs = spark.createDataFrame(
        [(i, u) for i, u in enumerate(
            ["https://example.com/p1", "https://blog.shop.co.uk/p2",
             "https://news.org/p3", "https://unknown.net/p4"])],
        "doc_id long, url string",
    )
    print("authority-weighted keep rates (floor 100k ppm):")
    authority_weighted_sample(
        crawl_docs, "doc_id", "url", auth, base_ppm=100_000
    ).select("doc_id", "auth_node", "auth_keep_ppm", "auth_keep").show(
        truncate=False
    )

    # 0d. both admission gates in one pass: the authority keep rate
    #     PLUS benchmark-leak quarantine — a leaked doc is never
    #     admitted no matter how authoritative its host
    from dbldatagen_spark.functions import authority_contamination_sample

    crawl_texts = crawl_docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0,
               F.lit("what is the capital of france paris"))
        .otherwise(F.concat(F.lit("ordinary crawl page number "),
                            F.col("doc_id").cast("string"))),
    )
    eval_bench = spark.createDataFrame(
        [("what is the capital of france paris",)], "text string"
    )
    print("fused admission (keep AND clean):")
    authority_contamination_sample(
        crawl_texts, "doc_id", "url", "text", auth, eval_bench,
        n=5, base_ppm=100_000,
    ).select("doc_id", "auth_keep", "auth_shared_ngrams",
             "auth_admit").show(truncate=False)

    # 1. per-domain quota: no source may exceed 100 docs
    capped = quota_sample(docs, "source", "doc_id", 100)

    # 1b. per-language routing (the CCNet splitter shape): language ID
    #     when stopwords fire, und-<script> from the dominant Unicode
    #     script otherwise; with out_path= this writes partitioned by
    #     route so each language's pipeline reads only its directory
    from dbldatagen_spark.functions import route_by_language

    routes = route_by_language(capped, "text")
    print("language routes:")
    routes.groupBy("route").count().orderBy("route").show()

    # 2. exact dedup: keep one row per normalized content
    uniq = capped.join(
        exact_dedup(capped, "doc_id", "text").select("doc_id"), "doc_id"
    )

    # 2b. span-level exact substring audit (Lee et al. 2022
    #     ExactSubstr): sentences duplicated verbatim across documents,
    #     located via the corpus-wide k-gram cover.  Spans are maximal
    #     and disjoint, so sum(span_tokens) equals what the full
    #     substring_dedup rebuild would remove — use substring_dedup
    #     itself when you want the rewritten text, the spans op when
    #     you only need the report (no rebuild join over the corpus)
    from dbldatagen_spark.functions import substring_dedup_spans

    spans = substring_dedup_spans(uniq, "doc_id", "text", k=8)
    n_span_tokens = spans.agg(F.sum("span_tokens")).first()[0]

    # 3. near-dup scrub, quality-aware: each MinHash cluster keeps its
    #    HIGHEST-quality member (argmax classifier logit), not whichever
    #    id is smallest — truncated/boilerplate copies lose to the
    #    cleanest one
    from dbldatagen_spark.functions import (
        keep_best_canonicals,
        quality_classifier_score,
    )

    clusters = minhash_cluster_dedup(uniq, "doc_id", "text", threshold=0.7)
    cluster_scores = quality_classifier_score(uniq, "doc_id", "text").select(
        "doc_id", "logit"
    )
    survivors = keep_best_canonicals(
        clusters, cluster_scores, "doc_id", "logit"
    )
    scrubbed = uniq.join(
        survivors.where("keep").select("doc_id"), "doc_id"
    )

    # 4. quality gates: report the full Gopher battery, filter on the
    # length rule (the synthetic corpus is too short for the whole set)
    flags = gopher_quality_flags(scrubbed, "doc_id", "text")
    n_gopher = flags.where(F.col("pass_all")).count()
    good = scrubbed.join(
        flags.where(F.col("ok_word_count")).select("doc_id"), "doc_id"
    )
    gates = expectation_report(
        good,
        {
            "nonempty": "length(text) > 0",
            "lang_known": "lang IS NOT NULL",
            "chars_consistent": "n_chars = length(text)",
        },
    )

    # 4b. model-based quality AFTER the rule battery (the production
    #     order): a logistic over the same feature family as pure
    #     expressions — swap in trained coefficients via weights=
    from dbldatagen_spark.functions import quality_classifier_score

    qc = quality_classifier_score(good, "doc_id", "text")

    # 4b+. threshold calibration: sweep the model score against a
    #      labeled reference (here: the rule battery's MEAN-WORD-
    #      LENGTH gate — word count would be degenerate, since
    #      `good` is already filtered on it) — the cumulative view
    #      reads "keep everything above this edge -> cum_n docs at
    #      cum_precision"
    from dbldatagen_spark.functions import calibration_report

    labeled = qc.select("doc_id", "logit").join(
        flags.select("doc_id", F.col("ok_mean_word_len").alias("label")),
        "doc_id",
    )
    print("model-score calibration vs rule label (4 bins):")
    calibration_report(labeled, "logit", "label", n_bins=4).show()

    # 4b++. consume the sweep: pick the lowest threshold whose kept
    #       set still meets the precision floor, apply it to the
    #       SCORED corpus as audit flags (the FineWeb-Edu recipe,
    #       end-to-end)
    from dbldatagen_spark.functions import calibrated_keep

    kept = calibrated_keep(qc, "logit", labeled, 0.5,
                           label_col="label", n_bins=4)
    row = kept.select("cal_threshold", "cal_expected_precision").first()
    n_cal_keep = kept.where("cal_keep").count()
    print(f"calibrated keep: threshold={row['cal_threshold']:.3f} "
          f"expected_precision={row['cal_expected_precision']:.3f} "
          f"-> {n_cal_keep} docs kept")

    # 4c. corpus-internal novelty: docs whose 5-grams are mostly
    #     corpus-common are boilerplate/near-copies the near-dup
    #     scrub can miss — report the worst offenders
    from dbldatagen_spark.functions import ngram_novelty

    novelty = ngram_novelty(good, "doc_id", "text", n=5)
    n_boiler = novelty.where("common_ratio >= 0.5").count()
    print(f"boilerplate-suspect docs (>=50% common 5-grams): {n_boiler}")
    n_model_keep = qc.where("keep").count()

    # 4c+. cross-SNAPSHOT novelty: the same gram machinery against a
    #      prior crawl — unchanged pages score 1.0 (skip the re-crawl
    #      cost), genuinely new pages near 0 (worth ingesting)
    from dbldatagen_spark.functions import cross_snapshot_novelty

    prior_snap = good.where("doc_id % 2 = 0").select("doc_id", "text")
    fresh = cross_snapshot_novelty(good, prior_snap, "doc_id", "text", n=5)
    n_fresh = fresh.where("seen_ratio < 0.2").count()
    print(f"docs mostly unseen in the prior snapshot: {n_fresh}")

    # 4c. CCNet head/middle/tail: quality terciles per language from
    #     histogram thresholds (no per-group global sort — the
    #     bucketing that survives a web-scale 'en' route)
    from dbldatagen_spark.functions import score_buckets

    scored = good.select("doc_id", "lang").join(
        qc.select("doc_id", "logit"), "doc_id"
    )
    tiers = score_buckets(
        scored, "doc_id", "logit", group_col="lang", n_buckets=3
    )
    print("quality tiers per language (1=tail .. 3=head):")
    tiers.groupBy("lang", "bucket").count().orderBy("lang", "bucket").show(6)

    # 4d. temperature-scaled mixture: how many docs each language
    #     contributes per epoch at alpha=0.5 (small languages
    #     up-sampled, the multilingual pretraining standard)
    from dbldatagen_spark.functions import temperature_weights

    print("temperature mixture (alpha=0.5, 10k-doc epoch):")
    temperature_weights(
        good, "lang", alpha=0.5, total_budget=10_000
    ).orderBy("lang").show()

    # 4e. the same mixture in TOKENS — the unit budgets are written
    #     in — with the largest-remainder split, so allocations sum to
    #     the budget exactly
    from dbldatagen_spark.functions import temperature_token_allocation

    with_tok = good.withColumn(
        "n_tok", F.size(F.split(F.trim("text"), r"\s+"))
    )
    print("token-budget mixture (alpha=0.5, 100k-token epoch):")
    temperature_token_allocation(
        with_tok, "lang", "n_tok", alpha=0.5, target_tokens=100_000
    ).orderBy("lang").show()

    # 4f. fertility-CORRECTED mixing: the tokenizer-equity report
    #     driving the allocation — word-mass temperature share scaled
    #     by each language's measured tokens-per-word, so equal shares
    #     buy equal WORDS seen rather than equal tokens burned
    from dbldatagen_spark.functions import fertility_token_allocation

    merges = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d")]
    print("fertility-corrected mixture (alpha=0.5, 100k-token epoch):")
    fertility_token_allocation(
        good, "lang", "text", merges, alpha=0.5, target_tokens=100_000
    ).orderBy("group").show()

    # 2c. paragraph-granular near-dup (RefinedWeb's mid-granularity,
    #     between the exact substring spans of 2b and the whole-doc
    #     clusters of 3): dedup paragraphs corpus-wide, reassemble
    #     each doc from its survivors
    from dbldatagen_spark.functions import paragraph_dedup

    para = paragraph_dedup(
        good.withColumn(
            "ptext", F.regexp_replace("text", r"\. ", ".\n\n")
        ),
        "doc_id", "ptext", method="exact",
    )
    n_para_removed = para.agg(F.sum("n_paragraphs_removed")).first()[0]
    # 0 here is the healthy answer: this corpus was already exact-
    # and near-dup scrubbed upstream, so no verbatim paragraph
    # survives twice — on raw web crawl this is where mirrored
    # boilerplate paragraphs disappear
    print(f"paragraph-level duplicates removed: {n_para_removed}")

    # 5. token-budget selection: best (longest) docs per source within 50k chars
    selected = budget_select(good, "source", "doc_id", "n_chars", 50_000.0)

    # 5b. distribution matching: budget_select keeps the LONGEST docs
    #     per source, biasing the length profile — flag a subsample
    #     whose histogram tracks the full quality-gated corpus again
    #     (the capped-importance-ratio resampler — per-bin exact ppm
    #     rates, id-hash keep decision, auditable flags)
    from dbldatagen_spark.functions import distribution_matched_sample

    matched = distribution_matched_sample(
        selected, "doc_id", "n_chars", good, n_bins=8,
    )
    n_matched = matched.where("match_keep").count()
    print(f"distribution-matched subsample: {n_matched} docs kept")

    # 6. retrieval negatives + train/val/test split
    negs = contrastive_negatives(selected, "doc_id", k=2, num_buckets=8)
    splits = split_assign(
        selected, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )

    # 6b. leakage-safe variant: when near-copies are KEPT (not
    #     scrubbed), split on the dup-cluster representative so
    #     cluster-mates can never straddle train and test
    from dbldatagen_spark.functions import cluster_aware_split

    near_pairs = clusters.where("doc_id <> canonical_id").select(
        F.col("doc_id").alias("id_a"), F.col("canonical_id").alias("id_b")
    )
    safe = cluster_aware_split(
        selected, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
        near_pairs,
    )
    n_merged = safe.where("split_key <> doc_id").count()
    print(f"leakage-safe split: {n_merged} docs co-located with a dup mate")

    # monitoring lane
    drift = psi_report(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), "n_chars"
    )
    hot = hot_key_report(docs, "source", top_k=5)
    gaps = sequence_gaps(selected, "doc_id", bucket_size=1000)

    n_sel = selected.count()
    print(f"docs: raw={n0} -> selected={n_sel} (full-Gopher passers: {n_gopher})")
    print(f"substring-dup tokens (removable, all occurrences): {n_span_tokens}")
    print(f"model-quality keepers (logit >= 0): {n_model_keep}")
    print("gates:")
    gates.show(truncate=False)
    print(f"negatives: {negs.count()} pairs for {n_sel} docs")
    print("split sizes:", {r.split: r["count"] for r in splits.groupBy("split").count().collect()})
    print(f"psi total: {sum(r.psi_term for r in drift.collect()):.4f}")
    print("hottest sources:")
    hot.show(truncate=False)
    print(f"id gaps in selected set: {gaps.count()}")

    assert n_sel <= n0
    assert negs.count() == 2 * n_sel
    spark.stop()


if __name__ == "__main__":
    main()
