"""Embedding-serving pipeline: compress -> shortlist -> re-rank -> audit.

The 100 TB ANN story end-to-end over the embeddings table:

1. **Audit which Matryoshka truncation is servable** —
   `mrl_recall_report` measures recall@k of each prefix dimension
   against the full-vector ranking.
2. **Compress 32x with product quantization** — `pq_train` k-means
   every subspace in ONE fused pass per Lloyd iteration, `pq_encode`
   reduces each 64-float vector to 8 small ints, and
   `pq_reconstruction_report` proves the codebook beats the k=1
   (subspace-mean) baseline.
3. **Serve with ADC shortlist + exact re-rank** — `pq_adc_topk` scans
   ONLY the code column (pure whole-stage-codegen lookups, planned as
   a per-partition top-k), then the generous-L shortlist re-ranks
   against true vectors — the standard IVF-PQ serving pattern.
4. **Probe an IVF-PQ residual index** — `ivfpq_build`/`ivfpq_topk`
   add the coarse-cell routing of the full IVFADC layout: residual
   PQ codes per inverted list, per-cell lookup tables, and a pushable
   cell predicate, so a query scans only `n_probe` cells' codes.
5. **Estimate audience overlap without joining audiences** —
   `kmv_set_ops` on two per-label KMV sketches gives union / Jaccard /
   intersection estimates from k=64 longs per side.

Run: python examples/ann_serving_pipeline.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbldatagen_spark import local_session
from dbldatagen_spark.functions import (
    kmv_set_ops,
    kmv_sketch,
    mrl_recall_report,
    pq_adc_topk,
    pq_encode,
    pq_reconstruction_report,
    pq_train,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = local_session("ann-serving-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"),
                "label")
        .cache()
    )
    n = emb.count()
    print(f"corpus: {n} x 64-d vectors")

    # 1. which truncation is servable?
    print("\nMRL recall@10 by prefix dimension (vs full 64-d ranking):")
    mrl_recall_report(emb, "vec_id", "v", dims=[8, 16, 32], k=10,
                      n_queries=10).show()

    # 2. compress 32x: 64 floats -> 8 codes
    cb, hist = pq_train(emb, "v", m=8, k=16, id_col="vec_id", max_iter=6)
    print(f"PQ training inertia: {hist[0]:.1f} -> {hist[-1]:.1f} "
          f"({len(hist)} iterations)")
    coded = pq_encode(emb, "v", cb).select("vec_id", "pq_codes").cache()
    print("reconstruction audit (mse must beat the subspace variance):")
    pq_reconstruction_report(emb, "v", cb).show()

    # 3. serve: ADC shortlist over codes, exact re-rank over vectors
    probe = emb.orderBy("vec_id").first()
    L = max(50, n // 10)
    shortlist = pq_adc_topk(
        coded, "vec_id", "pq_codes", cb, list(probe["v"]), k=L,
        exclude_id=probe["vec_id"],
    )
    qa = F.array(*[F.lit(float(x)) for x in probe["v"]])
    true_d = F.aggregate(
        F.zip_with(F.col("v"), qa, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    reranked = (
        shortlist.join(emb.select("vec_id", "v"), "vec_id")
        .select("vec_id", F.round(true_d, 4).alias("true_dist"))
        .orderBy("true_dist", "vec_id")
        .limit(10)
    )
    print(f"query vec {probe['vec_id']}: ADC shortlist L={L}, "
          f"re-ranked top-10:")
    reranked.show()

    # 3b. IVF-PQ residual index: coarse cells route, PQ codes
    #     compress the RESIDUAL to the cell centroid — the full IVFADC
    #     layout. The index is 8 ints + a cell id per row; the probe
    #     touches only n_probe cells' codes via per-cell lookup
    #     tables, with `cell IN (...)` as a pushable scan predicate.
    from dbldatagen_spark.functions import ivfpq_build, ivfpq_topk

    idx, cents, rcb = ivfpq_build(emb, "vec_id", "v", n_cells=8, m=8, k=16)
    ivf_top = ivfpq_topk(
        idx, "vec_id", cents, rcb, list(probe["v"]), k=10, n_probe=2,
        exclude_id=probe["vec_id"],
    )
    print("IVF-PQ residual index, n_probe=2/8 cells, top-10 by ADC:")
    ivf_top.show()

    # 3c. tune the serving knob before pinning it: routing recall@10
    #     per candidate n_probe against exact L2 top-10 on an
    #     md5-selected probe set — pick the smallest n_probe that
    #     clears the recall target (the curve is monotone by
    #     construction, 1.0 when every cell is probed)
    from dbldatagen_spark.functions import ivfpq_tune_nprobe

    print("n_probe tuning curve (routing recall@10):")
    ivfpq_tune_nprobe(
        idx, emb, "vec_id", "v", cents, k=10,
        n_probes=(1, 2, 4, 8), n_queries=4,
    ).groupBy("n_probe").agg(
        F.avg("recall").alias("mean_recall")
    ).orderBy("n_probe").show()

    # 4. audience overlap from sketches: labels 0 vs 1, no join of rows
    sk = kmv_sketch(emb, "vec_id", group_cols=["label"], k=64)
    ops = kmv_set_ops(
        sk.where("label = 0").drop("label"),
        sk.where("label = 1").drop("label"),
        k=64,
    )
    print("label-0 vs label-1 membership overlap (from 64-long sketches):")
    ops.show()

    coded.unpersist()
    emb.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
