"""Corpus TRUST report — the round-10 audit family on one page: not
"what is in the corpus" (corpus_diagnostics.py) but "how much should I
trust the numbers and knobs my pipeline already uses":

    1. Bootstrap CIs        (analytics.poisson_bootstrap_ci) — is the
       mean doc length per source a real difference or resampling
       noise?  One-pass Poisson bootstrap, deterministic weights.
    2. Conformal cutoffs    (analytics.conformal_threshold) — the
       classifier-score threshold per source with a ≥90% finite-sample
       guarantee, instead of an eyeballed constant.
    3. Detector agreement   (dedup.detector_agreement) — are the
       near-dup detectors redundant (drop the expensive one) or
       complementary (union their edges)?
    4. ANN recall audit     (brute vs LSH/IVF hit counts) — measure
       the approximate paths instead of trusting their math.
    5. Cluster modularity   (similarity.cluster_modularity) — do the
       mutual-kNN components actually explain the kNN structure, or
       is the "semantic clustering" knob doing nothing?

Every number here is exact/deterministic (hash-derived weights, order
statistics, integer counts), so two runs — or the engine and its
DuckDB oracle — agree bit-for-bit.  Run directly:

    python examples/trust_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from streamkit_spark import tables  # noqa: E402
from streamkit_spark.functions import curation as C  # noqa: E402
from streamkit_spark.functions import dedup as D  # noqa: E402
from streamkit_spark.functions import similarity as SIM  # noqa: E402
from streamkit_spark.functions.analytics import (  # noqa: E402
    conformal_threshold,
    poisson_bootstrap_ci,
)
from streamkit_spark.functions.text import token_count  # noqa: E402
from streamkit_spark.session import get_spark  # noqa: E402


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="trust_report")
    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")

    print("\n== 1. Bootstrap 95% CI of mean tokens/doc per source ==")
    vals = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("ntok")
    )
    poisson_bootstrap_ci(vals, "source", "ntok").show(truncate=False)

    print("== 2. Conformal classifier-score cutoff per source (α=0.1) ==")
    from streamkit_spark.functions.util import spread

    scored = C.quality_classifier_score(spread(docs), bias=0.1).select(
        "doc_id", "score"
    )
    conformal_threshold(
        scored.join(docs.select("doc_id", "source"), "doc_id"),
        "source",
        "score",
    ).show(truncate=False)

    print("== 3. Near-dup detector agreement matrix ==")
    # one pair pass (one candidate set, one verify) for both exact
    # detectors, checkpointed so both sets read one verify
    near = D.near_dup_pairs_from_ranks(
        D.shingle_ranks(docs, n=3), 0.6, 0.6
    ).localCheckpoint(eager=False)
    D.detector_agreement(
        {
            "jaccard": near.filter("jaccard_hit"),
            "containment": near.filter(F.col("contained_id").isNotNull()),
            "substring": D.substring_dup_pairs(
                docs, k=16, w=8, min_shared=2
            ).select(
                F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
            ),
        }
    ).show(truncate=False)

    print("== 4. ANN recall audit (IVF vs exact, recall@5) ==")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(emb, queries, k=5, round_digits=4)
    ivf = SIM.ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=3, round_digits=4
    ).select("query_id", "neighbor_id", F.lit(1).alias("__h"))
    (
        brute.select("query_id", "neighbor_id")
        .join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce("__h", F.lit(0))).alias("n_hit"),
        )
        .orderBy("query_id")
        .show()
    )

    print("== 5. Mutual-kNN component modularity vs the kNN graph ==")
    knn = (
        SIM.knn_graph(emb, k=3, method="brute")
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    clusters = D.duplicate_clusters(SIM.mutual_knn_pairs(knn))
    mod = SIM.cluster_modularity(
        knn, clusters, edge_a="src", edge_b="dst"
    )
    mod.agg(
        F.count("*").alias("n_clusters"),
        F.round(F.sum("contribution"), 4).alias("modularity_Q"),
    ).show()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
