"""End-to-end training-data curation pipeline — the composition the
north-star asks for: ingest → exact dedup → near-dedup → quality filter →
per-language stats.  One declarative plan end to end: Catalyst sees the
whole graph, so filters push below dedup joins, and nothing materializes
between stages unless asked.

At 100 TB this runs as: one pass for hashes/quality (map-only), one
shuffle for exact dedup, the LSH banding shuffles for near-dedup, one
final shuffle for stats — with the near-dup verify join always on the
small candidate side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamkit_spark.functions import curation as C
from streamkit_spark.functions import dedup as D
from streamkit_spark.functions import text as TX


@dataclass(frozen=True)
class CurationConfig:
    ngram: int = 3
    jaccard_threshold: float = 0.8
    min_quality: float = 0.3
    min_tokens: int = 5
    use_lsh: bool = True  # False → exact shingle-join candidates (oracle-able)
    # near-dup drop policy.  False (default): drop every id_b of a
    # qualifying pair — conservative, keeps docs whose only similar
    # neighbours were already dropped.  True: collapse each CONNECTED
    # COMPONENT of the pair graph to its min-id representative (the
    # transitive policy of Lee et al. 2022, "Deduplicating Training Data
    # Makes Language Models Better") via dedup.duplicate_clusters.
    cluster_dedup: bool = False
    # additionally treat exact n-gram MAX-CONTAINMENT pairs
    # (|A∩B|/min(|A|,|B|) >= containment_threshold) as near-dup edges —
    # the asymmetric quote-inclusion duplication Jaccard misses when
    # sizes differ (dedup.containment_pairs; Broder SEQUENCES'97).
    # Both detectors run as ONE pair pass (dedup.near_dup_pairs_from_ranks)
    # whose pairs form ONE pair graph, so with cluster_dedup the whole
    # mixed component collapses to one representative.  None disables.
    # containment_max_df is the documented boilerplate-shingle candidate
    # cut (recall trade, see containment_pairs).
    containment_threshold: float | None = None
    containment_max_df: int | None = None
    # additionally drop docs sharing long verbatim substrings (winnowing
    # pairs with >= substring_min_shared agreeing fingerprints — the
    # ExactSubstr stage of Lee et al. 2022; 0 disables)
    substring_min_shared: int = 0
    substring_k: int = 16
    substring_w: int = 8
    # strip boilerplate segments (shared by >= N docs, case-insensitive
    # match, case-preserving rebuild) BEFORE any dedup — CCNet line
    # dedup; 0 disables.  NOTE: the rebuild reflows whitespace (lines
    # re-trimmed / blocks single-spaced), so length-derived metadata
    # columns (n_chars) go stale; quality metrics recompute from text.  boilerplate_block_tokens switches to
    # fixed-width token blocks for corpora without newline layout.
    boilerplate_min_df: int = 0
    boilerplate_block_tokens: int | None = None
    # hashed-feature linear classifier gate (fastText-style) applied with
    # the quality rules; None disables.  classifier_weights is an optional
    # (bucket, weight) DataFrame — default is the deterministic stand-in
    # model (see curation.quality_classifier_score).
    classifier_cutoff: float | None = None
    classifier_weights: object | None = None


def curate(docs: DataFrame, cfg: CurationConfig = CurationConfig()) -> DataFrame:
    """Returns the curated document set with quality metadata attached.

    Keep rules (all deterministic, min-doc_id wins):
      1. drop exact duplicates (normalized-text md5, keep min id);
      2. drop near-duplicates (jaccard ≥ threshold, keep the smaller id of
         each pair — i.e. drop any doc that appears as id_b; with
         ``containment_threshold``, a containment-only pair drops its
         contained side);
      3. drop low-quality docs (quality < min_quality or too few tokens).
    """
    return _curate_stages(docs, cfg)[-1][1]


def _curate_stages(
    docs: DataFrame,
    cfg: CurationConfig = CurationConfig(),
    checkpoint: bool = False,
) -> list[tuple[str, DataFrame]]:
    """The pipeline's doc-dropping stages as an ordered
    ``(stage_name, surviving_docs)`` list — ONE definition serving both
    :func:`curate` (returns the last frame) and :func:`curation_funnel`
    (counts every frame), so the funnel can never drift from the
    pipeline it audits.

    ``checkpoint=True`` localCheckpoints each stage so a consumer that
    acts on EVERY frame (the funnel counts N stages) doesn't re-plan
    the shared prefixes N times; :func:`curate` leaves it off — a
    single-consumer pipeline stays one lazy Catalyst plan.

    The boilerplate text transform is row-preserving and therefore not
    a stage; the classifier gate is (it drops docs)."""

    def _stage(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if checkpoint else df

    if cfg.boilerplate_min_df > 0:
        cleaned = C.remove_boilerplate(
            docs,
            min_df=cfg.boilerplate_min_df,
            block_tokens=cfg.boilerplate_block_tokens,
            join_sep=" " if cfg.boilerplate_block_tokens else "\n",
        ).select("doc_id", F.col("clean_text").alias("__ct"))
        # LEFT join: empty-text docs emit no segments and must survive to
        # the quality gates (which drop them on their own terms)
        docs = (
            docs.withColumnRenamed("text", "__orig")
            .join(cleaned, "doc_id", "left")
            .withColumn("text", F.coalesce("__ct", F.lit("")))
            .select(*[c for c in docs.columns])
        )
    # the input frame is never checkpointed: nothing downstream reads it
    # (every stage derives from the original `docs` plan), so a funnel
    # checkpoint would materialize the whole corpus — text included —
    # just to count rows
    stages = [("input", docs)]
    exact = _stage(D.dedup_exact(docs))
    stages.append(("exact_dedup", exact))
    pairs = _near_dup_pairs(exact, cfg)
    if cfg.cluster_dedup:
        clusters = D.duplicate_clusters(pairs)
        kept = D.dedup_keep_canonical(exact, clusters)
    else:
        # one drop rule: a Jaccard pair drops id_b, a containment-only
        # pair its CONTAINED side — the larger endpoint may hold unique
        # content beyond the quoted subset, whatever the id order.  A
        # pair under both drops id_b only, so one endpoint survives.
        drop_ids = pairs.select(
            F.when(F.col("jaccard_hit"), F.col("id_b"))
            .otherwise(F.col("contained_id"))
            .alias("doc_id")
        ).distinct()
        kept = exact.join(drop_ids, "doc_id", "left_anti")
    kept = _stage(kept)
    stages.append(("near_dedup", kept))
    if cfg.substring_min_shared > 0:
        sub_pairs = D.substring_dup_pairs(
            kept,
            k=cfg.substring_k,
            w=cfg.substring_w,
            min_shared=cfg.substring_min_shared,
        )
        sub_drop = sub_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        kept = _stage(kept.join(sub_drop, "doc_id", "left_anti"))
        stages.append(("substring_dedup", kept))
    scored = kept.withColumn("quality", F.round(TX.quality_score("text"), 4)).withColumn(
        "n_tokens", TX.token_count("text").cast("long")
    )
    out = _stage(
        scored.filter(
            (F.col("quality") >= cfg.min_quality)
            & (F.col("n_tokens") >= cfg.min_tokens)
        )
    )
    stages.append(("quality", out))
    if cfg.classifier_cutoff is not None:
        # score the CHEAP pre-dedup docs scan, not `out`: joining a branch
        # derived from `out` would re-plan the whole dedup/LSH pipeline
        # (the derived-table self-join trap); text is unchanged by dedup,
        # so the scores are identical
        keep = (
            C.quality_classifier_score(
                docs, weights=cfg.classifier_weights,
                cutoff=cfg.classifier_cutoff,
            )
            .filter(F.col("keep"))
            .select("doc_id")
        )
        out = _stage(out.join(keep, "doc_id"))
        stages.append(("classifier", out))
    return stages


def _near_dup_pairs(exact: DataFrame, cfg: CurationConfig) -> DataFrame:
    """The near-dup stage's pairs in :func:`dedup.near_dup_pairs_from_ranks`'
    columns, one row per pair; ``(id_a, id_b)`` are the cluster edges.
    Exact mode is that one pass; LSH mode with containment full-outer-
    joins the LSH pairs to a containment-only pass."""
    t_c, max_df = cfg.containment_threshold, cfg.containment_max_df
    if not cfg.use_lsh:
        ranks = D.shingle_ranks(exact, n=cfg.ngram)
        return D.near_dup_pairs_from_ranks(ranks, cfg.jaccard_threshold, t_c, max_df)
    lsh = D.minhash_lsh_pairs(exact, ngram=cfg.ngram, threshold=cfg.jaccard_threshold)
    if t_c is None:
        lsh = lsh.withColumn("contained_id", F.lit(None))
    else:
        ranks = D.shingle_ranks(exact, n=cfg.ngram)
        cont = D.near_dup_pairs_from_ranks(ranks, None, t_c, max_df)
        cont = cont.select("id_a", "id_b", "contained_id")
        lsh = lsh.join(cont, ["id_a", "id_b"], "full")
    return lsh.withColumn("jaccard_hit", F.col("jaccard").isNotNull())


def curation_funnel(
    docs: DataFrame, cfg: CurationConfig = CurationConfig()
) -> DataFrame:
    """Per-stage attrition report of the curation pipeline — the "why
    did my corpus shrink 40%?" observability row set: one row per
    doc-dropping stage, ``(stage_idx, stage, n_docs, n_dropped,
    drop_pct)``, where n_dropped/drop_pct are against the PREVIOUS
    stage (the input row reads 0 dropped / NULL pct).

    Stage frames come from the SAME ``_curate_stages`` definition
    :func:`curate` executes, so the funnel cannot drift from the
    pipeline it audits; each frame is localCheckpoint'ed because the
    funnel counts every frame and the shared prefixes would otherwise
    re-plan per stage (the derived-table hazard).

    Counts are exact integers; drop_pct is one double division rounded
    4dp.  The whole report is ONE union plan — a single action,
    stage-count rows."""
    stages = _curate_stages(docs, cfg, checkpoint=True)
    rows = None
    for i, (name, df) in enumerate(stages):
        one = df.agg(F.count("*").cast("long").alias("n_docs")).select(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
        )
        rows = one if rows is None else rows.unionByName(one)
    from pyspark.sql import Window

    # stage-count rows only: the partition-less window is fine
    prev = F.lag("n_docs").over(Window.orderBy("stage_idx"))
    return rows.select(
        "stage_idx",
        "stage",
        "n_docs",
        F.coalesce(prev - F.col("n_docs"), F.lit(0))
        .cast("long")
        .alias("n_dropped"),
        F.round(
            F.when(
                prev > 0,
                (prev - F.col("n_docs")).cast("double") / prev.cast("double"),
            ),
            4,
        ).alias("drop_pct"),
    ).orderBy("stage_idx")


def curation_report(docs: DataFrame, cfg: CurationConfig = CurationConfig()) -> DataFrame:
    """Per-language summary of the curated corpus."""
    out = curate(docs, cfg)
    return (
        out.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_quality"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang")
    )
