"""Incremental near-duplicate detection: a persisted MinHash-LSH band
index that document batches are checked against as they arrive.

Why this exists: batch near-dedup (``functions/dedup.minhash_lsh_pairs``)
re-shingles the whole corpus; a continuously-ingesting pipeline wants each
micro-batch checked against everything accepted SO FAR, with only the
signatures + band rows as state — O(P + B) longs per accepted doc,
independent of document length.  This is the streaming analog of the
reference's subscription pipeline over an accumulating store
(pkg/api/subscriptions.go snapshot→live contract), applied to the
LLM-curation north star.

Design per batch (all joins are band-bucket equi-joins — never all-pairs):

1. signature + band rows for the incoming docs (JVM expressions only);
2. candidates = batch bands ⋈ index bands (plus batch-internal self-join,
   so duplicates arriving together are caught too);
3. verify candidates on **signature agreement**
   (:func:`~streamkit_spark.functions.dedup.sig_jaccard_estimate`) — the
   shingle sets of historical docs are not retained, so the verdict is the
   standard unbiased MinHash estimate (std ≈ sqrt(j(1-j)/P), ~0.05 at
   P=64; pick ``threshold`` with that margin in mind);
4. novel docs' signatures + band rows are appended to the index;
   re-processing the same doc_ids is idempotent (anti-join on doc_id).

Concurrency contract: ONE writer at a time — exactly what Structured
Streaming's ``foreachBatch`` guarantees within a query.  At cluster scale
the index is two parquet (or Delta) tables partitioned by band/bucket
range; the per-batch join prunes to the buckets the batch touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamkit_spark.functions.dedup import (
    band_row_table,
    minhash_signature,
    sig_jaccard_estimate,
)
from streamkit_spark.functions.similarity import _bucket_map, _cosine_of, _vec_table
from streamkit_spark.schema import local_frame

_SIG_SCHEMA = "doc_id long, sig array<bigint>"
_BAND_SCHEMA = "doc_id long, band int, bucket long"


class NearDupIndex:
    """Persistent MinHash-LSH index for incremental near-dedup.

    ``process_batch(docs)`` returns the batch annotated with ``dup_of``
    (the doc it near-duplicates: the smallest matching doc_id in the
    index or earlier in the batch; null for novel docs) and ``est_jaccard``
    for the matched pair, then registers the novel docs.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 64,
        bands: int = 16,
        ngram: int = 3,
        threshold: float = 0.7,
        seed: int = 42,
    ) -> None:
        assert num_hashes % bands == 0
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.ngram = ngram
        self.threshold = threshold
        self.seed = seed
        self.sig_path = os.path.join(path, "sigs")
        self.band_path = os.path.join(path, "bands")

    # ------------------------------------------------------------- state

    def _read(self, path: str, schema: str) -> DataFrame:
        if os.path.exists(path):
            return self.spark.read.schema(schema).parquet(path)
        return local_frame(self.spark, schema, [])

    def sigs(self) -> DataFrame:
        return self._read(self.sig_path, _SIG_SCHEMA)

    def band_rows(self) -> DataFrame:
        return self._read(self.band_path, _BAND_SCHEMA)

    # ------------------------------------------------------------- check

    def process_batch(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """Annotate ``docs`` with (dup_of, est_jaccard) against the index
        + earlier docs of the same batch, then append the novel docs'
        state.  Returns the annotated batch (collected decision, small:
        one row per batch doc)."""
        sig = minhash_signature(
            docs, text_col, id_col, self.num_hashes, self.ngram, self.seed
        ).localCheckpoint(eager=True)  # signatures are reused 3×; compute once
        bands_new = band_row_table(sig, self.bands, self.num_hashes)

        idx_bands = self.band_rows()
        # candidates vs the index (index ids win ties: they are "earlier")
        cand_idx = (
            bands_new.alias("n")
            .join(
                idx_bands.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bucket") == F.col("o.bucket"))
                # a replayed doc meets its own registration — not a dup
                & (F.col("n.doc_id") != F.col("o.doc_id")),
            )
            .select(
                F.col("n.doc_id").alias("id"),
                F.col("o.doc_id").alias("prior"),
            )
        )
        # candidates within the batch: smaller id is the "prior"
        cand_self = (
            bands_new.alias("a")
            .join(
                bands_new.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id"),
                F.col("b.doc_id").alias("prior"),
            )
        )
        cand = cand_idx.unionByName(cand_self).distinct()

        all_sigs = self.sigs().unionByName(sig)
        verified = (
            cand.join(sig.alias("sn"), cand["id"] == F.col("sn.doc_id"))
            .join(all_sigs.alias("so"), cand["prior"] == F.col("so.doc_id"))
            .select(
                "id",
                "prior",
                sig_jaccard_estimate(F.col("sn.sig"), F.col("so.sig")).alias(
                    "est_jaccard"
                ),
            )
            .filter(F.col("est_jaccard") >= F.lit(self.threshold))
        )
        best = verified.groupBy("id").agg(
            F.min("prior").alias("dup_of"),
            F.min_by("est_jaccard", "prior").alias("est_jaccard"),
        )
        annotated = (
            docs.join(best, docs[id_col] == best["id"], "left")
            .drop("id")
            .localCheckpoint(eager=True)  # decide BEFORE the index mutates
        )

        novel = annotated.filter(F.col("dup_of").isNull()).select(
            F.col(id_col).alias("doc_id")
        )
        # idempotent append: docs already registered (replay) are skipped
        seen = self.sigs().select("doc_id")
        to_add = novel.join(seen, "doc_id", "left_anti")
        add_sigs = sig.join(to_add, "doc_id")
        add_bands = bands_new.join(to_add, "doc_id")
        add_sigs.write.mode("append").parquet(self.sig_path)
        add_bands.write.mode("append").parquet(self.band_path)
        return annotated

    # --------------------------------------------------------- streaming

    def attach(
        self,
        stream: DataFrame,
        sink_path: str,
        checkpoint: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        """Run the index over a streaming document source via foreachBatch
        (the one-writer-at-a-time home the contract above requires);
        annotated batches append to ``sink_path`` as parquet.

        Delivery: the INDEX is replay-idempotent (anti-join on doc_id),
        but the plain parquet sink append is at-least-once — a batch
        replayed after a crash appends its annotations twice.  Readers
        dedup on doc_id, or point the sink at an idempotent target (Delta
        with txnAppId/txnVersion) when available — the same T7/T11 trade
        the reference documents (docs/limitations.md:9-17)."""

        def _once(batch: DataFrame, epoch_id: int) -> None:
            out = self.process_batch(batch, text_col=text_col, id_col=id_col)
            out.write.mode("append").parquet(sink_path)

        return (
            stream.writeStream.foreachBatch(_once)
            .option("checkpointLocation", checkpoint)
            .start()
        )


_VEC_SCHEMA = "vec_id long, vec array<double>, norm double"
_VBAND_SCHEMA = "vec_id long, tbl int, bkt long"


class EmbeddingDupIndex:
    """Incremental embedding near-dedup: the vector twin of
    :class:`NearDupIndex` for multimodal/embedding pipelines.

    State per accepted vector: the (double-cast) vector + its norm and
    ``n_tables`` hyperplane-bucket rows — O(dim) doubles, so the verify
    step is EXACT cosine (unlike text, where shingles are dropped and the
    verdict is a signature estimate).  Candidates via multi-table
    hyperplane LSH (recall 1-(1-p^bits)^T, p = 1-θ/π — single-table is
    only adequate for cos ≥ ~0.95; see similarity.embedding_near_dup_pairs).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        threshold: float = 0.95,
        bits: int = 8,
        n_tables: int = 4,
        seed: int = 42,
    ) -> None:
        self.spark = spark
        self.path = path
        self.dim = dim
        self.threshold = threshold
        self.bits = bits
        self.n_tables = n_tables
        # the bucket map of similarity.lsh_topk / embedding_near_dup_pairs
        self._bucket_rows = _bucket_map(dim, bits, n_tables, seed)
        self.vec_path = os.path.join(path, "vecs")
        self.band_path = os.path.join(path, "vbands")

    def _read(self, path: str, schema: str) -> DataFrame:
        if os.path.exists(path):
            return self.spark.read.schema(schema).parquet(path)
        return local_frame(self.spark, schema, [])

    def vecs(self) -> DataFrame:
        return self._read(self.vec_path, _VEC_SCHEMA)

    def band_rows(self) -> DataFrame:
        return self._read(self.band_path, _VBAND_SCHEMA)

    def process_batch(
        self, batch: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """Annotate ``batch`` with (dup_of, cos) vs the index + earlier
        batch rows; register novel vectors idempotently."""
        prepared = _vec_table(
            batch, id_col, vec_col, "vec_id", "vec", "norm"
        ).localCheckpoint(eager=True)
        bands_new = self._bucket_rows(prepared, "vec_id", "vec", "vec_id")

        cand_idx = (
            bands_new.alias("n")
            .join(
                self.band_rows().alias("o"),
                (F.col("n.tbl") == F.col("o.tbl"))
                & (F.col("n.bkt") == F.col("o.bkt"))
                & (F.col("n.vec_id") != F.col("o.vec_id")),
            )
            .select(F.col("n.vec_id").alias("id"), F.col("o.vec_id").alias("prior"))
        )
        cand_self = (
            bands_new.alias("a")
            .join(
                bands_new.alias("b"),
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.bkt") == F.col("b.bkt"))
                & (F.col("a.vec_id") > F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("id"), F.col("b.vec_id").alias("prior"))
        )
        cand = cand_idx.unionByName(cand_self).distinct()

        all_vecs = self.vecs().unionByName(prepared)
        cos = _cosine_of("vn.vec", "vn.norm", "vo.vec", "vo.norm")
        verified = (
            cand.join(prepared.alias("vn"), cand["id"] == F.col("vn.vec_id"))
            .join(all_vecs.alias("vo"), cand["prior"] == F.col("vo.vec_id"))
            .select("id", "prior", cos.alias("cos"))
            .filter(F.col("cos") >= F.lit(self.threshold))
        )
        best = verified.groupBy("id").agg(
            F.min("prior").alias("dup_of"),
            F.min_by("cos", "prior").alias("cos"),
        )
        annotated = (
            batch.join(best, batch[id_col] == best["id"], "left")
            .drop("id")
            .localCheckpoint(eager=True)
        )

        novel = annotated.filter(F.col("dup_of").isNull()).select(
            F.col(id_col).alias("vec_id")
        )
        to_add = novel.join(self.vecs().select("vec_id"), "vec_id", "left_anti")
        prepared.join(to_add, "vec_id").write.mode("append").parquet(self.vec_path)
        bands_new.join(to_add, "vec_id").write.mode("append").parquet(self.band_path)
        return annotated

    def attach(
        self,
        stream: DataFrame,
        sink_path: str,
        checkpoint: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        """foreachBatch wrapper, same contract as NearDupIndex.attach
        (index replay-idempotent; plain parquet sink is at-least-once)."""

        def _once(batch: DataFrame, epoch_id: int) -> None:
            out = self.process_batch(batch, id_col=id_col, vec_col=vec_col)
            out.write.mode("append").parquet(sink_path)

        return (
            stream.writeStream.foreachBatch(_once)
            .option("checkpointLocation", checkpoint)
            .start()
        )
