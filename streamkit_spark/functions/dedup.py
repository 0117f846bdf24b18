"""Deduplication operators for LLM-data pipelines, designed for 100 TB.

Strategies, cheapest first:

* **exact** — md5(normalized text) groupBy.  One shuffle of (hash, id);
  map-side combine makes the shuffle proportional to distinct hashes.
* **ngram-jaccard** — exact Jaccard over word-shingle sets via prefix
  filtering (AllPairs/PPJoin): candidates only need to share a shingle in
  their df-ordered prefixes, so the join keys are the RARE shingles —
  exact results without the hot-shingle quadratic blowup.
* **minhash LSH** — the scale path: per-doc signature of P minhashes
  (xxhash64 with P salts, all JVM-side), banded into B buckets; only
  same-bucket pairs are verified with exact Jaccard.  Shuffle volume is
  O(docs × B) small rows instead of O(docs × shingles).
* **simhash** — 64-bit near-dup fingerprint (hamming ≤ k); band join on
  16-bit chunks for candidates.
* **embedding cosine** — near-dup by embedding similarity; random-hyperplane
  LSH buckets then exact cosine verify (see similarity.py).

The pair detectors share three pieces: candidates come from one in-row
pair enumerator (``util.in_row_pairs``) over grouped rows, never a
self-join; candidates meet their per-doc data through one verify join
(:func:`_verify_join`); and set scores — Jaccard, overlap, containment —
are ratios of one set-overlap projection (:func:`_set_overlap`), and exact
Jaccard and containment share one candidate set
(:func:`near_dup_pairs_from_ranks`).

Every function returns a lazy DataFrame builder, and a finisher over a
pair table reads it once, in one chain.  Three materialize, and say so
in their docstrings: :func:`shingle_ranks` (checkpointed eagerly, shared
by the exact prefix-filter detectors), :func:`minhash_fidelity`'s
signature table, and :func:`duplicate_clusters` (a bounded collect, then
the iterative loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streamkit_spark import schema
from streamkit_spark.functions.text import normalized_text, tokens, word_ngrams
from streamkit_spark.functions.util import (
    in_row_pairs,
    pairs_from_sorted_groups,
    spread as _spread,
)


def _lc(text_col: str) -> Column:
    """Dedup operates case-insensitively: shingles come from lowercased
    text (the oracle SQL mirrors with lower(text))."""
    return F.lower(F.col(text_col))


# ---------------------------------------------------------------- exact

def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.
    Returns (text_hash, n_docs, keep_id) for groups with n_docs > 1."""
    h = F.md5(normalized_text(text_col))
    return (
        df.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("text_hash")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per identical normalized text.

    Implemented as a partial-aggregable min_by groupBy (NOT a window —
    a window would sort whole partitions; min_by combines map-side)."""
    h = F.md5(normalized_text(text_col))
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min_by(row, F.col(id_col)).alias("__r"))
        .select("__r.*")
    )


# ---------------------------------------------------------- ngram jaccard

def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) exploded distinct word n-grams."""
    return _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(_lc(text_col), n)).alias("shingle"),
    )


def shingle_ranks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """The ranked-shingle table the exact prefix-filter detectors share:
    one row per (doc, distinct shingle), ``(doc_id, sid, df, rk, nsh)``.

    * ``sid`` — dense LONG shingle id, ``pmod(xxhash64(shingle), 2^16) ·
      2^43 + dense_rank`` of the shingle within its bucket.  Injective
      while each bucket holds < 2^31 shingles, with no single-partition
      global window at any vocabulary size.  The map is a bijection, so
      every set and intersection size computed on ids equals the one on
      shingle strings; only the per-element hash work shrinks.
    * ``df`` — the shingle's global document frequency.
    * ``rk`` — 0-based rank of the shingle in its doc's (df asc, shingle
      asc) order.
    * ``nsh`` — the doc's distinct-shingle count.

    One ``shingle_table`` pass feeds two window stages: ``sid`` and
    ``df`` from one sort of the bucket-partitioned rows (a shingle's
    rows meet in one task, as they would in a join on the shingle), and
    ``rk``/``nsh`` from one sort of the doc-partitioned rows (ONE doc's
    shingle set per task, O(doc length)).  The table is
    ``localCheckpoint``-ed EAGERLY: Spark jobs run when this function is
    called.  The shingle string is dropped before the checkpoint, so it
    holds numbers only.  Build it once per (corpus, n) and pass it to
    the ``*_from_ranks`` operators.

    Recall argument (the AllPairs/PPJoin prefix filter — Bayardo, Ma &
    Srikant, WWW'07), stated once for every consumer.  If a pair must
    share ``o`` shingles, a doc's first ``|A| − o + 1`` ranks cannot all
    miss the intersection, so the pair shares a shingle inside that
    prefix.  Jaccard needs ``o = ⌈t·|A|⌉`` on each side; containment
    needs it on the SMALLER side only (the containing side emits every
    shingle).  POSITIONAL filter: every common shingle ranks at or after
    the pair's smallest common shingle (in the shared (df, shingle)
    order) in both docs, so a shared shingle at ranks (i, j) bounds the
    intersection by min(|A|−i, |B|−j); the smallest common shingle's
    row always passes, so filtering on that bound keeps recall exactly
    1.  A ``max_df`` cut drops the highest-df shingles, which rank LAST
    in that order: it removes the smallest common shingle only when it
    removes every common shingle, so a pair sharing any prefix shingle
    with df ≤ max_df still passes through that smallest one.

    PRECONDITION: ``id_col`` unique per doc (duplicate ids merge in the
    per-doc windows)."""
    return _rank_plan(df, text_col, id_col, n).localCheckpoint()


def _rank_plan(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """The lazy plan :func:`shingle_ranks` checkpoints."""
    bucket = F.pmod(F.xxhash64("shingle"), F.lit(1 << 16))
    sh = shingle_table(df, text_col, id_col, n).withColumn("__b", bucket)
    # both windows below sort by (__b, shingle) over ONE exchange
    sid = F.col("__b").cast("long") * F.lit(1 << 43).cast("long") + (
        F.dense_rank().over(Window.partitionBy("__b").orderBy("shingle"))
    )
    dfreq = F.count("*").over(Window.partitionBy("__b", "shingle"))
    return sh.select(
        "doc_id", "shingle", sid.alias("sid"), dfreq.alias("df")
    ).select(
        "doc_id",
        "sid",
        "df",
        (
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            )
            - 1
        ).alias("rk"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("nsh"),
    )


def _rational(threshold: float) -> tuple[int, int]:
    """threshold as t_num/t_den so every bound is exact integer
    arithmetic — a float ceil an ulp high would shorten a prefix and
    silently lose pairs."""
    t_den = 1_000_000
    return int(round(threshold * t_den)), t_den


def _prefix(ranks: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """Rows inside each doc's prefix, rk < nsh − ⌈t·nsh⌉ + 1.  The ceil
    multiplies in BIGINT: nsh · t_num overflows INT32 past ~3.6k
    distinct shingles (ANSI crash or silent wrap)."""
    return ranks.filter(
        F.col("rk")
        < F.expr(
            f"nsh - ((cast(nsh as bigint) * {t_num} + {t_den - 1})"
            f" div {t_den}) + 1"
        )
    )


def _verify_join(cand: DataFrame, side: DataFrame, col: str) -> DataFrame:
    """The one verify join of the pair detectors: candidate ``(id_a,
    id_b)`` rows (extra columns ride along) joined to a per-doc side
    table ``(doc_id, col)`` on both ends, adding ``{col}_a`` and
    ``{col}_b``.  cand stays un-hinted: its size is corpus-dependent,
    so AQE broadcasts from the measured size and a pathological case
    shuffles instead of OOMing.  PRECONDITION: ``doc_id`` unique in
    ``side``."""
    a = side.select(F.col("doc_id").alias("id_a"), F.col(col).alias(f"{col}_a"))
    b = side.select(F.col("doc_id").alias("id_b"), F.col(col).alias(f"{col}_b"))
    return a.join(cand, "id_a").join(b, "id_b")


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Per-doc shingle sets ``(doc_id, s)`` as the distinct shingle
    STRINGS, recomputed map-only from the docs scan.  They serve SMALL
    candidate sets (LSH banding, signature fidelity), where building a
    rank table costs more than it saves (r12 interleaved A/B on ids:
    minhash_lsh 2.15 → 3.06 s, fidelity 1.42 → 2.70 s).  PRECONDITION:
    ``id_col`` unique per doc."""
    return _spread(df).select(
        F.col(id_col).alias("doc_id"), word_ngrams(_lc(text_col), n).alias("s")
    )


def _set_overlap(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """The one set-overlap projection: candidate pairs verify-joined to
    a per-doc set table (distinct elements) give ``(id_a, id_b, inter,
    na, nb)`` = (|A∩B|, |A|, |B|), exact integers; extra candidate
    columns ride along after ``id_b``.  Jaccard, overlap and containment
    are ratios of these; |A∪B| = na + nb − inter, so no union array is
    materialized.

    The sizes come out of a one-row ``inline``: a predicate over them
    stays above it, where filter pushdown through a plain projection
    copies the intersect into the join condition once per reference
    (4 copies for curate's pass), each run per candidate.  Benchmark
    curate at sf0.1, 4 cores, 7 interleaved reps: 5.90 → 4.00 s."""
    sizes = F.struct(
        F.size(F.array_intersect("s_a", "s_b")).alias("inter"),
        F.size("s_a").alias("na"),
        F.size("s_b").alias("nb"),
    )
    return _verify_join(cand, sets, "s").select(
        "id_a",
        "id_b",
        *[c for c in cand.columns if c not in ("id_a", "id_b")],
        F.inline(F.array(sizes)),
    )


def _jaccard() -> Column:
    """|A∩B| / |A∪B| over :func:`_set_overlap`'s columns."""
    inter = F.col("inter")
    return inter.cast("double") / (F.col("na") + F.col("nb") - inter)


def _jaccard_pairs(overlap: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) from :func:`_set_overlap`."""
    return (
        overlap.select("id_a", "id_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def _jaccard_candidates(ranks: DataFrame, threshold: float) -> DataFrame:
    """Distinct (id_a, id_b) prefix-filter candidates of
    :func:`ngram_jaccard_pairs` (recall argument on
    :func:`shingle_ranks`)."""
    t_num, t_den = _rational(threshold)
    # group prefix rows by sid and enumerate in-group pairs instead of a
    # self-join, which would plan the rank pipeline once per side; group
    # sizes stay bounded because prefixes hold the RARE shingles
    grouped = _prefix(ranks, t_num, t_den).groupBy("sid").agg(
        F.collect_list(F.struct("doc_id", "nsh", "rk")).alias("ds")
    )
    pair = grouped.filter(F.size("ds") > 1).select(
        F.explode(in_row_pairs("ds")).alias("p")
    )
    xa, ya = F.col("p.x"), F.col("p.y")
    # positional filter: overlap requirement α = ⌈t/(1+t) · (|A|+|B|)⌉
    # against min(|A|−i, |B|−j); every size × t_num product runs in
    # BIGINT (the prefix-length overflow class)
    alpha = F.expr(
        f"((cast(p.x.nsh as bigint) + p.y.nsh) * {t_num}"
        f" + {t_num + t_den - 1}) div {t_num + t_den}"
    )
    return (
        pair.filter(
            # length filter: t·|A| ≤ |B| ≤ |A|/t
            (ya["nsh"].cast("long") * t_den >= xa["nsh"].cast("long") * t_num)
            & (xa["nsh"].cast("long") * t_den >= ya["nsh"].cast("long") * t_num)
            & (F.least(xa["nsh"] - xa["rk"], ya["nsh"] - ya["rk"]) >= alpha)
        )
        .select(
            F.least(xa["doc_id"], ya["doc_id"]).alias("id_a"),
            F.greatest(xa["doc_id"], ya["doc_id"]).alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs_from_ranks(
    ranks: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` over a prebuilt :func:`shingle_ranks`
    table."""
    return _jaccard_pairs(near_dup_pairs_from_ranks(ranks, threshold), threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via prefix filtering (the AllPairs /
    PPJoin family).  Output: (id_a, id_b, jaccard) with id_a < id_b and
    jaccard ≥ threshold — identical to the naive all-candidates
    computation, but the join keys are the RARE shingles, so common
    shingles ("the end of" in D docs) never put D² candidate rows on one
    shuffle key.  Each doc emits its first ``|A| − ⌈t·|A|⌉ + 1`` ranks;
    candidates pass the PPJoin length and position filters and are
    verified with exact Jaccard (recall argument on
    :func:`shingle_ranks`).

    Builds one eager :func:`shingle_ranks` table (Spark jobs run at
    plan construction) and verifies on its dense ids; pass a shared
    table to :func:`ngram_jaccard_pairs_from_ranks` instead.
    """
    return ngram_jaccard_pairs_from_ranks(
        shingle_ranks(df, text_col, id_col, n), threshold
    )


def overlap_coefficient_pairs_from_ranks(
    ranks: DataFrame, threshold: float = 0.8, max_df: int = 64
) -> DataFrame:
    """:func:`overlap_coefficient_pairs` over a prebuilt
    :func:`shingle_ranks` table."""
    overlap = F.col("inter").cast("double") / F.least("na", "nb")
    return (
        near_dup_pairs_from_ranks(ranks, None, threshold, max_df)
        .select(
            "id_a",
            # a no-op on a pair's id that keeps id_b non-nullable in
            # the output schema
            F.coalesce("id_b", F.lit(0)).alias("id_b"),
            overlap.alias("overlap"),
        )
        .orderBy("id_a", "id_b")
    )


def overlap_coefficient_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 64,
) -> DataFrame:
    """Near-dup pairs by overlap coefficient (Szymkiewicz–Simpson):
    |A∩B| / min(|A|,|B|) ≥ threshold — the asymmetric-containment
    companion to Jaccard that catches a short document wholly embedded in
    a long one (quote inclusion, page-in-site), which Jaccard misses
    because the union is dominated by the long side.

    Recall contract: every pair over the threshold that shares a shingle
    with document frequency ≤ ``max_df`` is found; a pair sharing ONLY
    boilerplate shingles (df > max_df) is missed, the same deliberate
    trade :func:`substring_dup_pairs` makes.  The pairs are
    :func:`containment_pairs`' at ``max_df`` — one candidate set and one
    verify serve Jaccard, containment and overlap: such a pair's smallest
    common shingle has the lowest df of the shared ones, so it survives
    the cut, and it lies in the smaller side's prefix and passes the
    positional filter (argument on :func:`shingle_ranks`).

    Builds one eager :func:`shingle_ranks` table (Spark jobs run at
    plan construction); pass a shared table to
    :func:`overlap_coefficient_pairs_from_ranks` instead.

    Output: (id_a, id_b, overlap) with id_a < id_b.
    """
    return overlap_coefficient_pairs_from_ranks(
        shingle_ranks(df, text_col, id_col, n), threshold, max_df
    )


# ---------------------------------------------------------- minhash LSH

def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    ngram: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>[num_hashes]) MinHash signatures.

    Implementation note: a pure map-only fold (``aggregate`` + ``zip_with``
    over the shingle array) benches 2× faster *in isolation*, but Catalyst
    projection-collapse inlines such a derived array expression into every
    downstream reference — the 64 per-band ``sig[i]`` lookups each
    re-evaluated the whole fold (observed 8× pipeline blow-up).  The
    explode + groupBy(min...) formulation keeps an Aggregate node between
    the signature and its consumers, which is a natural materialization
    barrier: sig is computed exactly once.  Shuffle carries one
    (id, 64 longs) row per doc — independent of document length."""
    sh = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(_lc(text_col), ngram)).alias("shingle"),
    )
    # ONE expr literal for all hashes (the hyperplane_bucket/lit_vec
    # lesson): 64 per-hash Column chains cost ~200 py4j round-trips of
    # plan construction; a single SQL string parses JVM-side in one.
    # `seed + i` stays an INT literal exactly as F.lit produced (xxhash64
    # hashes value AND type).
    if hash_fn == "xxhash64":
        slots = ", ".join(
            f"min(xxhash64(shingle, {seed + i}))" for i in range(num_hashes)
        )
    elif hash_fn == "md5":
        # oracle path (the bloom/bootstrap precedent): 24-bit md5 head
        # per slot — DuckDB reconstructs the value nibble-wise.  Same
        # min-over-shingles semantics; the narrower hash adds a
        # negligible within-doc collision mass (~|shingles|²/2²⁵)
        slots = ", ".join(
            "min(cast(conv(substring(md5(concat("
            f"'mh:{seed}:{i}:', shingle)), 1, 6), 16, 10) as bigint))"
            for i in range(num_hashes)
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (xxhash64 | md5)")
    sig_expr = f"array({slots}) as sig"
    return sh.groupBy("doc_id").agg(F.expr(sig_expr))


def band_row_table(sig: DataFrame, bands: int, num_hashes: int) -> DataFrame:
    """(doc_id, band, bucket) rows from a signature table: bucket =
    xxhash64 over the band's slice of the signature.  B small fixed-width
    rows per doc — the only thing the LSH equi-join ever shuffles."""
    rows_per_band = num_hashes // bands
    # one expr literal for the bands×rows struct array (py4j trim; the
    # per-slot expressions are byte-identical to the Column-chain form)
    structs = ", ".join(
        "struct({b} as band, xxhash64(concat_ws(',', {slots})) as bucket)".format(
            b=b,
            slots=", ".join(
                f"cast(sig[{b * rows_per_band + r}] as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def sig_jaccard_estimate(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard estimate = fraction of agreeing signature slots.
    Unbiased, std ≈ sqrt(j(1-j)/P) (~0.05 at P=64) — the verify step when
    shingle sets are no longer on hand (e.g. checking against a persisted
    signature index)."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree.cast("double") / F.size(sig_a)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified with exact
    Jaccard.  Output: (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold.

    B bands of R=num_hashes/B rows: candidate probability ≈
    1-(1-j^R)^B — at 64/16 the S-curve knees near j≈0.6, comfortably
    below the 0.8 default threshold (high recall), and the exact-Jaccard
    verify removes false positives, so the result equals
    :func:`ngram_jaccard_pairs` on any corpus where LSH recall holds.
    """
    assert num_hashes % bands == 0
    sig = minhash_signature(df, text_col, id_col, num_hashes, ngram, seed)
    band_rows = band_row_table(sig, bands, num_hashes)
    # Group-and-enumerate same-bucket pairs instead of a band_rows⋈band_rows
    # self-join: the self-join plans the signature pipeline (shingle explode
    # + 64-way min aggregate, the expensive part) once per branch, and AQE
    # exchange reuse is not guaranteed (observed bimodal runtimes in the
    # jaccard operator).  Grouping keeps exactly ONE signature computation;
    # bucket group sizes are duplicate-cluster-sized, so the in-row pair
    # enumeration is bounded.
    cand = pairs_from_sorted_groups(
        band_rows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # exact-Jaccard verify on the (small) candidate set
    return _jaccard_pairs(
        _set_overlap(cand, _shingle_sets(df, text_col, id_col, ngram)), threshold
    )


def minhash_fidelity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    round_digits: int = 4,
) -> DataFrame:
    """Signature-fidelity audit of the MinHash estimator — the recall-
    audit discipline (ivf/lsh/pq/ivfadc_recall) applied to DEDUP's
    approximation: for every LSH candidate pair, the signature-agreement
    Jaccard estimate next to the exact shingle Jaccard.  dedup_minhash_lsh
    verifies candidates exactly before dropping, so estimator error never
    corrupts its output — this measures the estimator itself (std ≈
    √(j(1−j)/P), ~0.06 at P=64), which is what a pipeline trusting raw
    signatures (e.g. a persisted signature index, streaming/neardup)
    actually runs on.

    Output: (id_a, id_b, agree_n, j_est, j_exact, abs_err) per candidate
    pair, id_a < id_b.

    Plan shape: the signature aggregate is localCheckpoint'ed — band
    rows + both pair-side joins reference it (3 references; the derived-
    table re-planning hazard).  Band buckets here are the RAW
    concatenated slot strings, not xxhash64 of them (band_row_table's
    fixed-width optimization) — grouping is identical modulo hash
    collisions and the oracle replays the string key exactly.  Candidate
    enumeration is the shared group-and-enumerate; shingle arrays join
    only against candidates."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be a multiple of bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signature(
        df, text_col, id_col, num_hashes, ngram, seed, hash_fn=hash_fn
    ).localCheckpoint()
    structs = ", ".join(
        "struct({b} as band, concat_ws(',', {slots}) as bucket)".format(
            b=b,
            slots=", ".join(
                f"cast(sig[{b * rows_per_band + r}] as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    band_rows = sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = pairs_from_sorted_groups(
        band_rows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # exact Jaccard from the shingle sets, the estimate from the
    # signatures: both meet the candidates through the one verify join
    verified = _verify_join(
        _set_overlap(cand, _shingle_sets(df, text_col, id_col, ngram)), sig, "sig"
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    j_est = agree.cast("double") / F.lit(num_hashes)
    j_exact = _jaccard()
    return (
        verified.select(
            "id_a",
            "id_b",
            agree.cast("long").alias("agree_n"),
            F.round(j_est, round_digits).alias("j_est"),
            F.round(j_exact, round_digits).alias("j_exact"),
            F.round(F.abs(j_est - j_exact), round_digits).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------- simhash

def _md5_bit_sign(b: int) -> Column:
    """±1 contribution of bit ``b`` (0..63) of the token's 64-bit md5-prefix
    hash: hex nibble ``b // 4`` of md5(tok) (column ``h``), little-endian
    within the nibble.  Chosen because md5 is byte-identical in Spark and
    DuckDB, so a simhash built from it is oracle-reproducible (xxhash64,
    the fast default, exists only in Spark)."""
    nib = F.expr(f"locate(substr(h, {b // 4 + 1}, 1), '0123456789abcdef') - 1")
    return F.when(F.shiftright(nib, b % 4).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over whitespace tokens.

    Per bit b: sign of Σ_tokens (bit_b(hash(token)) ? +1 : -1).
    Implemented as one explode + 64 conditional-sum aggregates (all JVM);
    the shuffle carries one row of 64 ints per doc.

    ``hash_fn``: ``"xxhash64"`` (default, fastest — JVM intrinsic) or
    ``"md5"`` (first 16 hex nibbles of md5 — identical in DuckDB, used by
    the declared-query corpus so the oracle can mirror the fingerprints).
    """
    tok = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(_lc(text_col))).alias("tok")
    )
    if hash_fn == "xxhash64":
        tok = tok.withColumn("h", F.xxhash64("tok"))
        bit_sums = [
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    elif hash_fn == "md5":
        tok = tok.withColumn("h", F.md5("tok"))
        bit_sums = [F.sum(_md5_bit_sign(b)).alias(f"b{b}") for b in range(64)]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidates via the pigeonhole band trick: split 64 bits into
    (max_hamming+1) chunks; any pair within the radius shares ≥1 exact
    chunk → equi-join on (chunk_idx, chunk_value), then verify hamming.
    Unlike MinHash banding this candidate step is EXACT (pigeonhole, not
    probabilistic): the output equals all-pairs hamming ≤ k for the same
    fingerprints — which is what the DuckDB oracle computes."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    fp = simhash64(df, text_col, id_col, hash_fn=hash_fn)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.ci", "c.cv")
    # Group-and-enumerate same-chunk pairs instead of a chunks⋈chunks
    # self-join: the self-join would instantiate the 64-aggregate simhash
    # pipeline once per branch (the minhash/jaccard lesson — AQE exchange
    # reuse is not guaranteed).  Grouping keeps exactly ONE simhash
    # computation; each group carries (doc_id, simhash) structs so the
    # hamming verify needs no join back.  array_sort on the
    # struct orders by doc_id (first field), giving id_a < id_b.
    cand = (
        chunks.groupBy("ci", "cv")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
        .select(F.explode(in_row_pairs("ds")).alias("p"))
        .select(
            F.col("p.x.doc_id").alias("id_a"),
            F.col("p.y.doc_id").alias("id_b"),
            F.bit_count(
                F.col("p.x.simhash").bitwiseXOR(F.col("p.y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return (
        cand.filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------- duplicate clusters

def pair_source_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-group duplication matrix: count near-dup PAIRS by the
    (group_a, group_b) of their endpoints — "which crawl copies from
    which?"  ``dup_rate_by_source`` answers how much of EACH source is
    duplicated; this answers WHERE the duplicates point: a hot
    off-diagonal cell is one source mirroring another (or a shared
    upstream), a hot diagonal cell is within-source boilerplate.
    Output ``(group_a, group_b, n_pairs)`` with group_a <= group_b.

    Scale: two broadcast-size joins of the pair table against the
    (id, group) projection (|pairs| ≪ corpus after blocking), then a
    groups²-bounded aggregate."""
    g = docs.select(
        F.col(id_col).alias("__pid"), F.col(group_col).alias("__pg")
    )
    j = (
        pairs.select("id_a", "id_b")
        .join(
            g.select(
                F.col("__pid").alias("id_a"), F.col("__pg").alias("__ga")
            ),
            "id_a",
        )
        .join(
            g.select(
                F.col("__pid").alias("id_b"), F.col("__pg").alias("__gb")
            ),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("__ga", "__gb").alias("group_a"),
            F.greatest("__ga", "__gb").alias("group_b"),
        )
        .groupBy("group_a", "group_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        # NULLS LAST on both engines (Spark defaults NULLS FIRST on ASC,
        # DuckDB NULLS LAST): a NULL source group must not reorder rows
        # differently per engine
        .orderBy(
            F.col("group_a").asc_nulls_last(),
            F.col("group_b").asc_nulls_last(),
        )
    )


def substring_exposure(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
    min_shared: int = 2,
    max_df: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document memorization-risk exposure from the winnowing pair
    table (:func:`substring_dup_pairs`): for every document in at least
    one qualifying pair, how many OTHER documents share long verbatim
    substrings with it and how many fingerprint agreements in total —
    ``(doc_id, n_partners, shared_fps_total)``.  The ranking Lee et
    al. 2022's memorization analysis acts on: a doc whose spans recur
    across many partners is the one a model will regurgitate.

    One chain over the pair table: each pair fans out to its two
    endpoints in-row, then one doc-keyed aggregate."""
    pairs = substring_dup_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        w=w,
        min_shared=min_shared,
        max_df=max_df,
        hash_fn=hash_fn,
    )
    ends = pairs.select(F.inline(F.array(*[
        F.struct(F.col(c).alias("doc_id"), "shared_fps") for c in ("doc_a", "doc_b")
    ])))
    return (
        ends.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_partners"),
            F.sum("shared_fps").cast("long").alias("shared_fps_total"),
        )
        .orderBy("doc_id")
    )


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Connected components of a near-duplicate pair graph.

    Input: (id_a, id_b) candidate/verified pairs (any extra columns are
    ignored).  Output: (doc_id, cluster_id) for every doc appearing in at
    least one pair, where cluster_id = min(doc_id) of its component —
    i.e. the canonical representative every member should dedup to.

    Algorithm: when ``pairs`` holds at most ``small_graph_threshold``
    rows (input pairs as given, before symmetrizing or dedup), a
    driver-side union-find (the edge list of a near-dup graph is tiny
    next to its corpus; a bounded collect beats distributed-round
    overhead): one ``limit(small_graph_threshold + 1)`` collect decides
    the path and feeds the union-find, and the answer is an Arrow-backed
    local frame whose collect starts no job.  Above it, hash-to-min
    label propagation with pointer-jumping shortcuts
    (the MapReduce CC family of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14).  Each round:

    1. every node takes min(own label, neighbours' labels) — one shuffle
       join (edges ⋈ labels) + one map-side-combined groupBy(min);
    2. labels follow their own pointer one extra hop
       (label := label(label)), halving path lengths, so convergence is
       O(log diameter) rounds, not O(diameter).

    Near-duplicate components are near-cliques (diameter ≤ 3 in
    practice), so 2–3 rounds converge even at corpus scale.  Per-round
    shuffle volume is O(|edges|) fixed-width rows — independent of
    document size, and |edges| ≪ |docs| after LSH banding.  Lineage is
    truncated every round with localCheckpoint (iterative plans otherwise
    grow exponentially in Catalyst); on a real cluster prefer
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` so the cut
    survives executor loss.

    Reference parity: the reference engine (a KV event store) has no graph
    dedup; this is a north-star LLM-curation operator (SURVEY §2 note on
    dedup as a first-class extension).
    """
    edges = pairs.select(
        F.col("id_a").cast("long").alias("src"), F.col("id_b").cast("long").alias("dst")
    )
    # checkpoint BEFORE the probe and the symmetrize union: an
    # un-checkpointed expensive pair pipeline (exact-jaccard,
    # containment) would execute once for the probe and once PER BRANCH
    # of the union (the derived-table self-join hazard, union edition —
    # measured 15.4 -> ~8.5s on effective_tokens at sf0.1).  |pairs|
    # rows of two longs — the materialization is free.
    edges = edges.localCheckpoint(eager=False)
    # Hybrid (the GraphFrames/GraphX practice): a near-dup pair graph is
    # tiny next to its corpus (|edges| ≪ |docs| after LSH) — below the
    # threshold the edge list fits trivially on the driver and a
    # union-find beats 3-4 distributed rounds of fixed job overhead.
    # The distributed loop below is the above-threshold path (and is
    # covered by tests passing small_graph_threshold=0).
    head = edges.limit(small_graph_threshold + 1).collect()
    if len(head) <= small_graph_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in head:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict[int, int] = {}
        for v in parent:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        return schema.local_frame(
            pairs.sparkSession,
            "doc_id long, cluster_id long",
            [
                {"doc_id": v, "cluster_id": comp_min[find(v)]}
                for v in sorted(parent)
            ],
        )
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["src"] == labels["id"])
            .select(F.col("dst").alias("id"), "label")
            .union(labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: label := label(label)
        ptr = neigh.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        jumped = (
            neigh.join(ptr, neigh["label"] == ptr["p_id"], "left")
            .select("id", F.coalesce("p_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The deduplicated corpus: drop every clustered doc except its
    canonical representative (cluster_id == doc_id); singletons (docs in
    no pair) pass through untouched.

    The anti-join side stays un-hinted.  Web-scale corpora run 20-50%
    duplicates, so at 100 TB the losers can be billions of ids: AQE
    broadcasts them from their measured size when they are small and
    shuffles on the id otherwise, instead of OOMing the executors."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers, df[id_col] == losers["doc_id"], "left_anti")


# ------------------------------------------------- substring (winnowing)

def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Distinct winnowing fingerprints per document — (doc_id, fp).

    Winnowing (Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms
    for Document Fingerprinting", SIGMOD'03, the MOSS algorithm): hash
    every k-char gram of the lowercased text, then keep the MINIMUM hash
    of each window of ``w`` consecutive grams.  Detection guarantee (not
    probabilistic): two documents sharing an exact substring of at least
    ``k + w - 1`` characters select at least one identical fingerprint,
    because the shared region contains a full window of identical gram
    hashes whose minimum is position-independent.  Expected density is
    ~2/(w+1) fingerprints per character — the scale lever exact-substring
    dedup needs (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22, builds suffix arrays for this; winnowing gets
    the same ≥L-match detection with a per-partition streaming pass).

    Plan shape: ONE map-only in-row pass, no exchange — gram hashing,
    per-window minima (``transform`` over window starts + ``array_min``
    over w-slices of the gram array) and the per-doc fingerprint-set
    ``array_distinct`` all evaluate inside the row before the explode
    (the r11 rewrite; see the inline comment for the measured numbers).

    ``hash_fn``: ``"xxhash64"`` (default — JVM intrinsic over the k-char
    gram, one long per gram; ~2× the whole operator's speed vs md5, which
    digests AND hex-encodes 32 chars per text position) or ``"md5"``
    (byte-identical in DuckDB, used by the declared query so the oracle
    can mirror the fingerprints).  NOTE the two paths do NOT select the
    same fingerprint POSITIONS — which gram wins a window-min depends on
    the hash values — so borderline pair sets (few shared fps) can differ
    between hash functions.  What IS hash-agnostic is the detection
    guarantee: any pair sharing an exact substring of ≥ k+w-1 chars shares
    ≥1 fingerprint under EITHER hash (asserted per-path by
    test_winnowing_hash_paths_honor_guarantee and the driver-checked
    ``dedup_substring_fast_recall`` query).
    """
    txt = _lc(text_col)
    n_grams = F.greatest(F.length(txt) - F.lit(k - 1), F.lit(1))
    if hash_fn == "xxhash64":
        gram_hash = lambda i: F.xxhash64(txt.substr(i, F.lit(k)))  # noqa: E731
    elif hash_fn == "md5":
        gram_hash = lambda i: F.md5(txt.substr(i, F.lit(k)))  # noqa: E731
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    grams = F.transform(F.sequence(F.lit(1), n_grams), gram_hash)
    # Window minima IN-ROW: window i (0-based) spans grams [i, i+w-1]
    # (slice clamps at the array end, so the single window of a short
    # doc spans every gram — the same clamping the old explode shape
    # applied via win_lo/win_hi), and array_distinct gives the per-doc
    # fingerprint set before anything leaves the row.  The previous
    # formulation exploded every gram into its w window memberships and
    # shuffled them through a (doc, win) groupBy(min) — w× row
    # expansion + a hash aggregate for minima that are computable from
    # the gram array directly.  Measured 1.7 -> 0.83 s (xxhash64) /
    # 2.2 -> 0.79 s (md5) at sf0.1, identical fingerprint sets on both
    # hash paths; the whole operator is now ONE map-only pass, no
    # exchange at any scale.  Per-row memory is O(doc length) for the
    # gram array — the same order the shingle/winnow array expressions
    # elsewhere already hold in-row.
    base = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"greatest(length(lower({text_col})) - {k - 1}, 1)").alias("ng"),
        grams.alias("__gr"),
    )
    return base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.col("ng") - F.lit(w), F.lit(0)),
                    ),
                    lambda i: F.array_min(F.slice(F.col("__gr"), i + 1, w)),
                )
            )
        ).alias("fp"),
    )


def substring_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
    min_shared: int = 2,
    max_df: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document pairs sharing long exact substrings, by winnowing
    fingerprint agreement: (doc_a, doc_b, shared_fps) with doc_a < doc_b
    and ≥ ``min_shared`` distinct shared fingerprints.

    ``max_df`` drops fingerprints present in more than that many documents
    before the join — the document-frequency cut that removes boilerplate
    strings (license headers, navigation chrome) which would otherwise be
    quadratic hot keys, exactly the skew control ngram_jaccard_pairs gets
    from prefix filtering.  At 100 TB the join is then keyed on rare
    fingerprints only; everything upstream is map-side.

    ``hash_fn`` is forwarded to :func:`winnow_fingerprints` —
    ``"xxhash64"`` for production, ``"md5"`` for the oracle-checkable
    declared query.
    """
    fp = winnow_fingerprints(df, text_col, id_col, k=k, w=w, hash_fn=hash_fn)
    # Group-and-enumerate instead of a fp⋈fp self-join: a self-join would
    # instantiate the whole fingerprint pipeline twice (the ngram_jaccard
    # lesson — Catalyst plans each branch independently), and grouping
    # also gives the df-cut for free: fingerprints in > max_df documents
    # (boilerplate strings — quadratic hot keys) are dropped before any
    # pair is emitted.
    grouped = fp.groupBy("fp").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    sized = grouped.filter(F.size("ds") > 1)
    if max_df is not None:
        sized = sized.filter(F.size("ds") <= max_df)
    return (
        pairs_from_sorted_groups(sized, distinct=False)
        .groupBy(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 64,
    ngram: int = 1,
) -> DataFrame:
    """Lexical near-dup pairs by TF-IDF cosine over an inverted index:
    (doc_a, doc_b, n_shared, cosine) with doc_a < doc_b and cosine ≥
    ``threshold``, computed on the df-pruned vocabulary.

    ``ngram=1`` weights whole words by tf·idf; ``ngram≥2`` switches the
    term unit to word n-gram shingles (per-doc distinct, so tf is
    binary — idf-weighted shingle cosine), the right unit when the word
    vocabulary is small relative to the corpus.

    The missing strategy between n-gram Jaccard (set overlap — ignores
    term weighting) and embedding cosine (needs a model): classic sparse
    cosine catches template/boilerplate rewrites where rare-term WEIGHT
    agreement matters more than shingle identity.

    Scale shape (the jaccard/minhash playbook):

    * one corpus-sized (doc, term) count — map-side combined;
    * document frequencies via a vocab-sized groupBy, joined back (AQE
      splits the hot-term skew; same shape the prefix filter uses);
    * the ``df ≤ max_df`` cut drops high-df terms BEFORE any pair work —
      they carry near-zero idf anyway, and per-term candidate fan-out is
      then bounded by ``max_df²`` by construction (no quadratic hot key);
    * weights are unit-normalized per doc (w/‖w‖) so the pair dot product
      IS the cosine — no norms join on the pair table;
    * pairs come from group-and-enumerate per term (in-row pair explode —
      never a self-join of the derived postings pipeline).

    Determinism (oracle-replayable): tf and df are exact longs; the
    per-doc norm folds w² over terms in ascending term order, and the
    pair dot folds shared-term products in ascending term order
    (array_sort + aggregate — DuckDB replays both with
    ``list_sum(list(x ORDER BY k))``).  The threshold compares the
    UNROUNDED fold on both engines; rounding happens once on output.
    """
    unit = tokens(_lc(text_col)) if ngram <= 1 else word_ngrams(_lc(text_col), ngram)
    tok = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(unit).alias("term")
    )
    if ngram <= 1:
        tf = tok.groupBy("doc_id", "term").agg(
            F.count("*").cast("long").alias("tf")
        )
    else:
        # word_ngrams is array_distinct per doc, so (doc, term) rows are
        # already unique and tf ≡ 1 — the groupBy would be an identity
        # aggregate costing a full shuffle of the shingle table.  The
        # downstream weight 1·log(n/df) is IEEE-identical to log(n/df).
        tf = tok.select("doc_id", "term", F.lit(1).cast("long").alias("tf"))
    # tf has TWO consumers (the df aggregate and the tfd join probe).
    # r12 measured-and-rejected a localCheckpoint here: interleaved A/B
    # at sf0.1 (ngram=3 shape) showed no win in the minima (3.49 vs
    # 3.59 s) and a worse median under load — same verdict as the
    # jaccard/editdist probes (materialization ≥ the saved re-derivation;
    # AQE exchange reuse covers the fast case).
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    ndocs = df.agg(F.count("*").cast("long").alias("n_docs"))
    tfd = (
        tf.join(dfreq.where(F.col("df") <= max_df), "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("wgt"),
        )
    )
    # per-doc vector: sorted (term, wgt) array is both the norm-fold input
    # and the postings source — the aggregate is the materialization
    # barrier that keeps the expensive pipeline single-planned
    vec = (
        tfd.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "wgt"))).alias("tv"))
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    "tv",
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x.getField("wgt") * x.getField("wgt"),
                )
            ),
        )
        .where(F.col("nrm") > 0)
    )
    post = vec.select(
        "doc_id", "nrm", F.explode("tv").alias("t")
    ).select(
        F.col("t.term").alias("term"),
        "doc_id",
        (F.col("t.wgt") / F.col("nrm")).alias("uw"),
    )
    cand = (
        post.groupBy("term")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "uw"))).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    pairs = cand.select("term", F.explode(in_row_pairs("ps")).alias("p")).select(
        "term",
        F.col("p.x.doc_id").alias("a"),
        F.col("p.y.doc_id").alias("b"),
        (F.col("p.x.uw") * F.col("p.y.uw")).alias("prod"),
    )
    dot = (
        pairs.groupBy("a", "b")
        .agg(
            F.array_sort(F.collect_list(F.struct("term", "prod"))).alias("tp")
        )
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.size("tp").cast("long").alias("n_shared"),
            F.aggregate(
                "tp",
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.getField("prod"),
            ).alias("c_raw"),
        )
    )
    return (
        dot.where(F.col("c_raw") >= threshold)
        .select("doc_a", "doc_b", "n_shared", F.round("c_raw", 4).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------------- edit distance

def editdist_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 64,
    prefix_chars: int = 512,
    rarest_k: int = 8,
) -> DataFrame:
    """Near-dup pairs by normalized edit similarity: 1 − lev(a,b)/max(|a|,|b|)
    ≥ ``threshold`` over the first ``prefix_chars`` characters of the
    lowercased texts — the character-level verifier that catches small
    in-place edits (typo fixes, template slot changes) which set-based
    Jaccard scores leniently and winnowing scores harshly.

    Shape (the reason this scales where a naive all-pairs Levenshtein is
    hopeless — the DP is O(|a|·|b|) PER PAIR):

    1. candidates: group-and-enumerate docs sharing one of their
       ``rarest_k`` RAREST word shingles with df ≤ ``max_df`` — the
       per-record prefix idea of the AllPairs/PPJoin family (Bayardo
       WWW'07, as in :func:`ngram_jaccard_pairs`) applied to blocking.
       Each doc joins at most ``rarest_k`` blocks of size ≤ ``max_df``,
       so candidates are ≤ rarest_k·max_df·N/2 — LINEAR in corpus size.
       Share-any-rare-shingle blocking (the r5 shape) measured
       candidates ≈ 0.045·N² on the small-vocabulary documents fixture
       (1.13M pairs at 5000 docs): every shingle's df grows with N, so
       block sizes — and pair counts — grow quadratically until the df
       cut silently zeroes recall.  Rarest-k keeps the rare-shingle
       recall contract (near-identical prefixes have near-identical
       rarest-shingle lists, so top-k sets intersect for edit distances
       small relative to k·n words) while pinning the candidate bound
       to the corpus size; the oracle mirrors the cut.
    2. cheap length prefilter: lev ≥ |len(a) − len(b)|, so any qualifying
       pair satisfies (L − l) · t_den ≤ (t_den − t_num) · L with
       L = max, l = min of the capped lengths — exact integer arithmetic,
       no float ceil.
    3. exact verify: Spark's bounded ``levenshtein(..., threshold=B)``
       with the static bound B = ⌊(1−t) · prefix_chars⌋ (distance can
       never exceed that for a qualifying pair since both strings are
       ≤ prefix_chars); the early-exit bound turns the worst-case DP into
       a banded one.  −1 (bound exceeded) rows are dropped.

    The prefix cap bounds per-pair cost at 100 TB (a 100 KB document pair
    would otherwise cost 10^10 DP cells); it makes the measure "prefix
    edit similarity", which the oracle mirrors with the same substr.

    Output: (id_a, id_b, editsim) with id_a < id_b, editsim rounded 4dp.
    """
    t_num, t_den = _rational(threshold)
    # r12 measured-and-rejected a localCheckpoint here (two consumers:
    # df aggregate + join probe): old med 5.36 s with fast 2.65/3.12 s
    # runs when AQE exchange reuse fired vs new tight-at-5.5 s — the
    # materialization sets a FLOOR at the slow level and removes the
    # reuse upside (interleaved A/B, runs=6, sf0.1)
    sh = shingle_table(df, text_col, id_col, n)
    # df-filter BEFORE the join back so hot shingles never fan out
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count("*").cast("long").alias("__df"))
        .filter(F.col("__df") <= max_df)
    )
    # per doc: the rarest_k (df asc, shingle asc — total order) shingles
    # via ONE row_number window (same set as the old collect_list +
    # array_sort + slice + explode, without per-doc array churn — the
    # ngram_jaccard_pairs rewrite)
    wrk = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    keyed = (
        sh.join(dfreq, "shingle")
        .select("doc_id", "shingle", F.row_number().over(wrk).alias("__rk"))
        .filter(F.col("__rk") <= rarest_k)
        .select("shingle", "doc_id")
    )
    cand = pairs_from_sorted_groups(
        keyed.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    texts = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.substring(_lc(text_col), 1, prefix_chars).alias("t"),
    )
    la, lb = F.length("t_a"), F.length("t_b")
    big, small = F.greatest(la, lb), F.least(la, lb)
    bound = int((t_den - t_num) * prefix_chars // t_den)
    lev = F.levenshtein("t_a", "t_b", bound)
    sim = F.lit(1.0) - lev.cast("double") / big.cast("double")
    return (
        _verify_join(cand, texts, "t")
        # length prefilter: (L - l) / L > (1 - t) already fails on the
        # |len| lower bound of lev — integer form, no float comparison
        # BIGINT products (the plen bug class): length() is INT32 and a
        # large prefix_chars times t_den could overflow
        .filter(
            (big - small).cast("long") * t_den
            <= F.lit(t_den - t_num) * big.cast("long")
        )
        .select("id_a", "id_b", lev.alias("__lev"), sim.alias("__sim"))
        .filter((F.col("__lev") >= 0) & (F.col("__sim") >= F.lit(threshold)))
        .select("id_a", "id_b", F.round("__sim", 4).alias("editsim"))
        .orderBy("id_a", "id_b")
    )


def jaccard_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 4,
) -> DataFrame:
    """Dedup tuning curve: pair counts and corpus impact at several
    Jaccard thresholds from ONE candidate computation —
    ``(threshold, n_pairs, n_docs, dup_rate)`` per threshold, in
    threshold order, where ``n_docs`` is how many distinct documents sit
    in at least one qualifying pair and ``dup_rate`` = n_docs / corpus
    size.  This is the plot a dedup engineer reads before picking a
    production threshold: where the pair count explodes is where
    near-dup turns into topical-similarity.

    One pair pass at the LOWEST threshold, then one chain over it: each
    pair fans out to its two endpoints in-row, a window by document
    marks each document's best pair, and one aggregate counts per
    threshold the pairs (by their first endpoint) and the documents
    whose best pair qualifies.  The UNROUNDED exact-ratio jaccard
    compares against each threshold literal exactly as
    :func:`ngram_jaccard_pairs` does, so the sweep at t equals an
    independent run at t.  Thresholds with no qualifying pairs still
    emit (t, 0, 0, 0.0) rows.  Builds one eager :func:`shingle_ranks`
    table (Spark jobs run at plan construction).
    """
    ths = sorted({float(t) for t in thresholds})
    if not ths:
        raise ValueError("thresholds must be non-empty")
    pairs = near_dup_pairs_from_ranks(
        shingle_ranks(df, text_col, id_col, n), ths[0]
    ).select("id_a", "id_b", _jaccard().alias("j"))
    ends = pairs.select(F.inline(F.array(*[
        F.struct(F.col(c).alias("d"), "j", F.lit(c == "id_a").alias("lead"))
        for c in ("id_a", "id_b")
    ])))
    best = F.row_number().over(Window.partitionBy("d").orderBy(F.desc("j"))) == 1
    counts = ends.select("j", "lead", best.alias("best")).agg(*[
        F.count(F.when((F.col("j") >= F.lit(t)) & F.col(by), 1)).alias(f"{by}{i}")
        for i, t in enumerate(ths)
        for by in ("lead", "best")
    ])
    total = df.filter(F.col(id_col).isNotNull()).agg(
        F.countDistinct(id_col).cast("long").alias("n_total")
    )
    per_t = counts.crossJoin(F.broadcast(total)).select(F.inline(F.array(*[
        F.struct(
            _nullable_lit(t).alias("threshold"),
            F.col(f"lead{i}").alias("n_pairs"),
            F.col(f"best{i}").alias("n_docs"),
        )
        for i, t in enumerate(ths)
    ])), "n_total")
    rate = F.col("n_docs").cast("double") / F.col("n_total").cast("double")
    return per_t.select(
        "threshold", "n_pairs", "n_docs", F.round(rate, round_digits).alias("dup_rate")
    )


def _nullable_lit(value) -> Column:
    """``value`` as a literal typed nullable: the sweep's ``threshold``
    and the agreement's ``det_a``/``det_b`` are nullable in their output
    schemas."""
    return F.nullif(F.lit(value), F.lit(None))


def containment_candidates_from_ranks(
    ranks: DataFrame, threshold: float = 0.8, max_df: int | None = None
) -> DataFrame:
    """:func:`containment_candidates` over a prebuilt
    :func:`shingle_ranks` table."""
    t_num, t_den = _rational(threshold)
    prefix = _prefix(ranks, t_num, t_den)
    if max_df is not None:
        prefix = prefix.filter(F.col("df") <= max_df)
    psh = prefix.groupBy("sid").agg(
        F.collect_list(
            F.struct(
                F.col("doc_id").alias("p_doc"),
                F.col("rk").alias("p_rk"),
                F.col("nsh").alias("p_nsh"),
            )
        ).alias("ps")
    )
    # positional filter (see shingle_ranks): min(|P|−i, |F|−j) ≥
    # ⌈t·min(|P|,|F|)⌉ as x·t_den ≥ a·t_num in BIGINT
    p = F.col("p")
    keep = (
        F.least(p["p_nsh"] - p["p_rk"], F.col("nsh") - F.col("rk")) * t_den
        >= F.least(p["p_nsh"], F.col("nsh")) * t_num
    )
    return (
        ranks.join(psh, "sid")
        .select(
            F.col("doc_id").alias("f_doc"),
            "rk",
            "nsh",
            F.explode("ps").alias("p"),
        )
        .filter((p["p_doc"] != F.col("f_doc")) & keep)
        .select(
            F.least(p["p_doc"], F.col("f_doc")).alias("id_a"),
            F.greatest(p["p_doc"], F.col("f_doc")).alias("id_b"),
        )
        .distinct()
    )


def containment_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """The PPJoin-prefix candidate stage of :func:`containment_pairs`,
    exposed so the df×prefix fan-out can be MEASURED directly
    (tools/probe_containment_growth.py): distinct ``(id_a, id_b)``
    candidate pairs BEFORE the exact verify.  containment_pairs composes
    the same stage.

    Every qualifying pair (C_max ≥ t) is a candidate.  With ``max_df``
    that holds for every qualifying pair sharing a prefix shingle with
    df ≤ max_df: the cut removes the highest-df shingles, which rank
    last, so the positional filter still sees the pair's smallest common
    shingle (argument on :func:`shingle_ranks`)."""
    return containment_candidates_from_ranks(
        shingle_ranks(df, text_col, id_col, n), threshold, max_df
    )


def containment_pairs_from_ranks(
    ranks: DataFrame, threshold: float = 0.8, max_df: int | None = None
) -> DataFrame:
    """:func:`containment_pairs` over a prebuilt :func:`shingle_ranks`
    table."""
    return (
        near_dup_pairs_from_ranks(ranks, None, threshold, max_df)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.round(
                F.col("inter").cast("double")
                / F.least("na", "nb").cast("double"),
                4,
            ).alias("containment"),
            "contained_id",
        )
        .orderBy("id_a", "id_b")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram MAX-CONTAINMENT pairs: C_max(A, B) =
    |A∩B| / min(|A|, |B|) ≥ threshold, with id_a < id_b — the
    asymmetric near-dup detector Jaccard misses when sizes differ: a
    short document quoted whole inside a long one has tiny
    inter/union but containment 1 (Broder's "containment" from the
    original resemblance paper, SEQUENCES'97).  Output
    ``(id_a, id_b, inter, containment, contained_id)`` —
    ``contained_id`` is the smaller-shingle-set endpoint (equal sizes
    tie to id_b), the side a drop policy should remove: these pairs are
    size-asymmetric, and dropping by id order could delete the superset
    document's unique content.

    Candidates, with exact recall and no self-join: each doc's
    ``|A| − ⌈t·|A|⌉ + 1`` rarest shingles (its prefix) meet the FULL
    shingle set of every other doc, grouped per shingle, and pass the
    PPJoin positional filter (recall argument on :func:`shingle_ranks`).
    The verify compares inter·t_den ≥ min·t_num in integers, never a
    float ceil.  Builds one eager :func:`shingle_ranks` table; pass a
    shared one to :func:`containment_pairs_from_ranks` instead.

    Scale, honestly: the per-shingle fan-out is df(shingle) ×
    |prefix-docs(shingle)| — "rare" is relative to each DOC, so a
    boilerplate-only document puts globally-common shingles in its
    prefix and each such shingle emits df (corpus-scale) candidate rows
    on one shuffle key.  On corpora where that bites, pass ``max_df``
    to drop shingles with global df > max_df from CANDIDATE GENERATION.
    Every qualifying pair that shares a prefix shingle with df ≤ max_df
    is still found (the cut drops the LAST-ranked shingles, so the
    pair's smallest common shingle survives unless all common shingles
    are cut); a pair sharing ONLY boilerplate shingles is missed (the
    :func:`substring_dup_pairs` ``max_df`` recall trade).  Verification
    stays exact either way.

    Measured (r10, tools/probe_containment_growth.py): on the synthetic
    fixtures candidates grow ~N^2.47 — but that corpus has a CLOSED
    shingle vocabulary (27k distinct 3-grams at 5000 docs, max df 25,
    median 9), so every shingle's df grows ∝N and max_df has nothing to
    cut; most of the growth tracks the answer itself (verified pairs
    also grow ~N², candidates-per-pair drifts only ~N^0.57).  On an
    open-vocabulary corpus (Heaps' law) median df stays O(1) and the
    df tail — which max_df cuts — governs.
    """
    return containment_pairs_from_ranks(
        shingle_ranks(df, text_col, id_col, n), threshold, max_df
    )


def near_dup_pairs_from_ranks(
    ranks: DataFrame,
    jaccard_threshold: float | None = 0.8,
    containment_threshold: float | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard and max-containment pairs from ONE candidate
    set and ONE :func:`_set_overlap` verify over a :func:`shingle_ranks`
    table: ``(id_a, id_b, inter, na, nb, jaccard_hit, contained_id)``,
    id_a < id_b, unordered, one row per pair either detector finds.
    ``jaccard_hit`` is :func:`ngram_jaccard_pairs`' predicate;
    ``contained_id`` is :func:`containment_pairs`' contained side, NULL
    where its predicate fails.  A None threshold turns a detector off.

    The containment candidates at t_C cover every Jaccard pair at
    t_J ≥ t_num/t_den, as C_max ≥ J (argument on :func:`shingle_ranks`;
    distinct set-size ratios differ by far more than a double's ulp).
    The Jaccard candidates join them in one union only for t_J below
    t_C, a ``max_df`` cut or no t_C, flagged so the containment
    detector keeps its ``max_df`` contract."""
    if jaccard_threshold is None and containment_threshold is None:
        raise ValueError("near_dup_pairs_from_ranks needs a threshold")
    contains = F.lit(False)
    if containment_threshold is None:
        cand = _jaccard_candidates(ranks, jaccard_threshold)
    else:
        t_num, t_den = _rational(containment_threshold)
        cand = containment_candidates_from_ranks(ranks, containment_threshold, max_df)
        mins = F.least("na", "nb").cast("long")
        contains = (mins > 0) & (F.col("inter").cast("long") * t_den >= mins * t_num)
        if jaccard_threshold is not None and (
            max_df is not None or jaccard_threshold < t_num / t_den
        ):
            jac = _jaccard_candidates(ranks, jaccard_threshold)
            cand = (
                cand.withColumn("c_cand", F.lit(True))
                .unionByName(jac.withColumn("c_cand", F.lit(False)))
                .groupBy("id_a", "id_b")
                .agg(F.max("c_cand").alias("c_cand"))
            )
            contains = contains & F.col("c_cand")
    off = jaccard_threshold is None
    hit = F.lit(False) if off else _jaccard() >= F.lit(jaccard_threshold)
    # equal sizes tie to id_b, the jaccard convention
    smaller = F.when(F.col("na") < F.col("nb"), F.col("id_a")).otherwise(F.col("id_b"))
    # the verify side: each doc's shingle set as its dense sids
    sids = ranks.groupBy("doc_id").agg(F.collect_list("sid").alias("s"))
    return (
        _set_overlap(cand, sids)
        .withColumn("jaccard_hit", hit)
        .withColumn("contained_id", F.when(contains, smaller))
        .filter(F.col("jaccard_hit") | F.col("contained_id").isNotNull())
        .drop("c_cand")
    )


def detector_agreement(pair_tables: dict[str, DataFrame]) -> DataFrame:
    """Pairwise AGREEMENT matrix between near-dup detectors: for every
    detector pair, the Jaccard of their normalized ``(id_a, id_b)``
    pair SETS — the audit that tells a curation owner whether two
    detectors are redundant (agreement ≈ 1, drop the expensive one) or
    complementary (agreement ≈ 0, keep both — the reason
    :func:`near_dup_pairs_from_ranks` keeps a pair that either detector
    finds).

    Input: {detector_name: pair table with id_a/id_b columns} (extra
    columns ignored).  Output one row per unordered detector pair
    (lexicographic det_a < det_b over ALL input names, so empty
    detectors still appear): ``(det_a, det_b, n_a, n_b, n_both,
    agreement)``; agreement = n_both / (n_a + n_b − n_both), NULL when
    both sets are empty.  All counts exact integers; one double
    division rounded 4dp.

    One chain: the normalized pairs of every detector meet in one union
    and one per-pair grouping that collects the set of detectors finding
    the pair; one aggregate then counts, per detector and per detector
    pair, the pairs whose set holds them — in-row, never a pair-table
    self-join.  The detector spine is a literal array."""
    if len(pair_tables) < 2:
        raise ValueError("detector_agreement needs at least two detectors")
    names = sorted(pair_tables)
    tagged = None
    for name in names:
        t = pair_tables[name].select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.lit(name).alias("det"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    found = tagged.groupBy("id_a", "id_b").agg(F.collect_set("det").alias("ds"))
    spine = [(i, j) for i in range(len(names)) for j in range(i + 1, len(names))]

    def n_found(*dets: str) -> Column:
        held = F.lit(True)
        for d in dets:
            held = held & F.array_contains("ds", d)
        return F.count(F.when(held, 1))

    counts = found.agg(
        *[n_found(a).alias(f"n{i}") for i, a in enumerate(names)],
        *[n_found(names[i], names[j]).alias(f"n{i}_{j}") for i, j in spine],
    )
    rows = counts.select(F.inline(F.array(*[
        F.struct(
            _nullable_lit(names[i]).alias("det_a"),
            _nullable_lit(names[j]).alias("det_b"),
            F.col(f"n{i}").alias("n_a"),
            F.col(f"n{j}").alias("n_b"),
            F.col(f"n{i}_{j}").alias("n_both"),
        )
        for i, j in spine
    ])))
    denom = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return rows.withColumn("agreement", F.when(
        denom > 0, F.round(F.col("n_both").cast("double") / denom.cast("double"), 4)
    ))
