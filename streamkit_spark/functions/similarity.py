"""Similarity search over embedding columns (array<float>), 100 TB-ready.

* ``cosine`` / ``dot`` / ``l2_norm`` — pure JVM expressions (zip_with +
  aggregate folds in double precision, left-to-right — deterministic and
  oracle-reproducible bit-for-bit).
* ``brute_force_topk`` — exact top-k: broadcast the (small) query set
  against the corpus; one map-side stage + per-query top-k via max_by-style
  window.  The right baseline and the verifier for the ANN paths.
* ``lsh_topk`` — random-hyperplane LSH: bucket by sign bits, probe only
  matching buckets.  Candidates shrink by ~2^bits; recall tunable via
  multi-probe (hamming-adjacent buckets).
* ``ivf_topk`` — IVF-style coarse quantization: assign vectors to nearest
  of C centroids (a tiny broadcast table), probe the nprobe nearest lists.

Every exact-cosine path (brute, LSH, IVF, the kNN graph, the embedding
near-dup operators and the streaming ``EmbeddingDupIndex``) scores one
way: a side table of double vectors and norms (``_vec_table``) and one
cosine expression over it (``_cosine_of``), equal to ``cosine`` bit for
bit.  Per-query ranking is ``util.topk_per_key``; the LSH planes and
bucket rows are ``_bucket_map``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamkit_spark.functions.util import pairs_from_sorted_groups, topk_per_key
from streamkit_spark.functions.util import spread as _spread


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def lit_vec(vals) -> Column:
    """Double-array literal built in ONE parse.

    ``F.array(*[F.lit(v) for v in vals])`` issues one py4j roundtrip per
    element — at dim 64 × 8 centroids that is ~500 driver calls and ~3 s
    of pure plan-construction latency per query build (measured r2).  A
    single SQL string parses in one call and folds to the same literal."""
    vals = [float(v) for v in vals]
    if not all(math.isfinite(v) for v in vals):
        raise ValueError(
            "lit_vec: non-finite element (nan/inf) — such values render as "
            "invalid SQL literals and would fail later with an obscure parse "
            "error"
        )
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def _dot_raw(a: Column, b: Column) -> Column:
    """Σ a_i·b_i fold WITHOUT the defensive double-casts — for hot loops
    where the caller already holds double arrays (pre-cast corpus column,
    ``lit_vec`` literals).  Higher-order functions run interpreted (no
    whole-stage codegen), so shaving the two per-element cast transforms
    per (row × centroid/plane) is a real constant-factor win."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _fold_norm(c) -> float:
    """Driver-side ‖c‖ with the SAME left-fold order as the oracle's
    ``sqrt(list_sum(list_apply(c, x -> x*x)))`` — oracle-load-bearing:
    all engine code paths that pre-compute centroid/plane norms must use
    this one definition so cross-engine score parity cannot drift."""
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, left-to-right fold (deterministic)."""
    return _dot_raw(_as_double(a), _as_double(b))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _vec_table(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, vec: str, norm: str,
    *extra: Column,
) -> DataFrame:
    """``(out_id, vec, norm)``: every vector cast to double and its L2 norm,
    once per vector — the one side table of every exact-cosine verify.  A
    pair then costs one dot fold and one divide (:func:`_cosine_of`).
    Casting here matters: ``zip_with`` over two ``array<float>`` columns
    multiplies in FLOAT.  ``extra`` columns ride in the same projection."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias(out_id),
        _as_double(v).alias(vec),
        l2_norm(v).alias(norm),
        *extra,
    )


def _cosine_of(
    va: str = "__va", na: str = "__na", vb: str = "__vb", nb: str = "__nb",
    round_digits: int | None = None,
) -> Column:
    """The exact cosine of two :func:`_vec_table` rows, rounded to
    ``round_digits`` when set.  Operation for operation it is
    :func:`cosine` (double products, left fold, the norms' product, one
    divide), so every verify path scores bit-identically to it and to the
    oracles' double arithmetic."""
    sim = _dot_raw(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb))
    return sim if round_digits is None else F.round(sim, round_digits)


def _scored_pairs(
    cand: DataFrame, a_src: DataFrame, b_src: DataFrame, a: str, b: str,
    id_col: str, vec_col: str, round_digits: int | None,
    broadcast_a: bool = False,
) -> DataFrame:
    """``cand``'s columns plus ``cos``: the id pairs in columns ``a`` and
    ``b`` joined to the :func:`_vec_table` of ``a_src`` and of ``b_src``
    and scored by :func:`_cosine_of`.  Vectors never ride the candidate
    pipeline; they join back onto the deduplicated pairs."""
    va = _vec_table(a_src, id_col, vec_col, a, "__va", "__na")
    vb = _vec_table(b_src, id_col, vec_col, b, "__vb", "__nb")
    return (
        cand.join(F.broadcast(va) if broadcast_a else va, a)
        .join(vb, b)
        .select(*cand.columns, _cosine_of(round_digits=round_digits).alias("cos"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos) — excludes self.

    The query side is broadcast (it is small by construction); the corpus
    is never shuffled — the only exchange is the per-query top-k, which
    AQE handles with a TakeOrdered per group.  Both sides carry their
    double vector and norm (:func:`_vec_table`), so a pair costs one dot
    fold, not two casts and three folds.  ``round_digits`` rounds the
    similarity *before* ranking so rankings are reproducible across
    summation orders/engines (ties then break by neighbor id).
    """
    q = _vec_table(queries, query_id_col or id_col, vec_col, "query_id", "__va", "__na")
    # _spread: the corpus side carries the |corpus|×|queries| cosine
    # work after the broadcast join — a single-file parquet input would
    # run all of it on ONE core (measured 78s -> ~8s at sf0.1 for the
    # 5000-query knn_graph case).
    c = _vec_table(_spread(corpus), id_col, vec_col, "neighbor_id", "__vb", "__nb")
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", _cosine_of(round_digits=round_digits).alias("cos"))
    return topk_per_key(scored, "query_id", "neighbor_id", "cos", k)


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def _infer_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality.  ArrayType carries no length in the schema, so
    when the caller doesn't pass ``dim`` we fetch ONE int (size of one
    vector) — never a full vector row — in a single bounded job."""
    if dim is not None:
        return dim
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError(f"cannot infer dim: {vec_col} has no rows")
    return int(row["d"])


def hyperplane_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id (long) from literal hyperplanes — all JVM math.

    ``vec`` may be float or double: each element meets a DOUBLE plane
    literal, so it widens exactly before the multiply and no per-plane
    cast pass is issued.

    Built as ONE fold over a single 2-D plane literal rather than
    ``bits`` separate shiftleft terms: the per-plane formulation issued
    one expression parse + a py4j Column-op chain per plane (measured as
    seconds of pure plan-construction latency at 8 tables × 8 bits —
    same pathology as ``lit_vec``'s docstring), while the fold parses
    once per table.  Bit order is preserved: folding the REVERSED plane
    list with ``acc*2 + bit`` leaves plane 0 at the least-significant
    bit, exactly the old ``Σ bit_i << i``."""
    if len(planes) == 0:
        # bits=0 degenerate: one global bucket (the all-pairs reference
        # mode used by recall tests) — an empty array literal would have
        # VOID element type and break the fold's lambda typing
        return F.lit(0).cast("long")
    if not np.isfinite(planes).all():
        raise ValueError(
            "hyperplane_bucket: non-finite plane component (nan/inf) — "
            "would render as an invalid SQL literal (nanD/infD)"
        )
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in p) + ")"
            for p in reversed(list(planes))
        )
        + ")"
    )
    two = F.lit(2).cast("long")
    return F.aggregate(
        planes_lit,
        F.lit(0).cast("long"),
        lambda acc, p: acc * two
        + F.when(_dot_raw(vec, p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )


def _bucket_map(dim: int, bits: int, n_tables: int, seed: int):
    """The multi-table hyperplane-LSH bucket map, shared by :func:`lsh_topk`,
    :func:`embedding_near_dup_pairs` and the streaming ``EmbeddingDupIndex``
    so their buckets agree for one (dim, bits, seed).  Table ``t`` draws
    its planes with seed ``seed + 1000 * t``.  Returns
    ``rows(df, id_col, vec_col, out_id)``: the slim ``(out_id, tbl, bkt)``
    rows, one per (vector, table) — vectors do NOT ride along, so a band
    join never shuffles a vector T times."""
    planes = [random_hyperplanes(dim, bits, seed + 1000 * t) for t in range(n_tables)]

    def rows(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    hyperplane_bucket(F.col(vec_col), p).alias("bkt"),
                )
                for t, p in enumerate(planes)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id), F.explode(buckets).alias("__b")
        ).select(out_id, "__b.tbl", "__b.bkt")

    return rows


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_digits: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH.

    A single b-bit table has recall p^b per neighbor (p = 1 − θ/π agreement
    probability) — poor for moderate-similarity neighbors.  T independent
    tables OR their candidates: recall 1 − (1 − p^b)^T, tunable without
    touching precision because every candidate is scored with the exact
    cosine.

    Plan shape: corpus scan → T bucket ids (map-only expression) → explode
    to (table, bucket) rows → equi-join with the broadcast bucketed
    queries → candidate dedup → exact cosine → per-query top-k.  Candidate
    volume ≈ corpus × T / 2^bits.  At 100 TB the (table, bucket) pair is
    the ingest clustering key so probes prune files.
    """
    rows = _bucket_map(_infer_dim(corpus, vec_col, dim), bits, n_tables, seed)
    spread = _spread(corpus)
    cand = (
        rows(spread, id_col, vec_col, "neighbor_id")
        .join(F.broadcast(rows(queries, id_col, vec_col, "query_id")), on=["tbl", "bkt"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = _scored_pairs(
        cand, queries, spread, "query_id", "neighbor_id", id_col, vec_col,
        round_digits, broadcast_a=True,
    )
    return topk_per_key(scored, "query_id", "neighbor_id", "cos", k)


def _coarse_centroids(corpus, n_centroids, id_col, vec_col) -> list[list[float]]:
    """Deterministic coarse-centroid sample: the first ``n_centroids``
    vectors by id — reproducible, no k-means dependency (shared by the
    IVF, SemDeDup, and IVFADC paths so their list geometry agrees)."""
    cent_rows = (
        corpus.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    )
    return [list(r[0]) for r in cent_rows]


def _coarse_quantizer(corpus, n_centroids, id_col, vec_col):
    """IVF coarse quantizer: centroids = deterministic corpus sample (first
    ``n_centroids`` by id — reproducible, no k-means dependency), returned
    as a closure mapping a vector column to its n nearest centroid ids.

    Scores by dot(v, c)/‖c‖, not full cosine: argmax is identical (1/‖v‖
    is a common positive factor) and it cuts the per-(row × centroid)
    interpreted-HOF work to one fold.  ‖c‖ is pre-computed driver-side
    with the same left-fold order the oracle's ``sqrt(list_sum(...))``
    uses, so scores stay bit-identical across engines."""
    return _nearest_lists_from(_coarse_centroids(corpus, n_centroids, id_col, vec_col))


def _nearest_lists_from(centroids: list[list[float]]):
    """The quantizer closure for a known centroid list (see
    :func:`_coarse_quantizer` for the scoring/determinism contract)."""
    norms = [_fold_norm(c) for c in centroids]

    def nearest_lists(vec: Column, n: int) -> Column:
        """array of the n nearest centroid ids by dot/‖c‖ (≡ cosine argsort)."""
        scored = F.array(
            *[
                F.struct(
                    (_dot_raw(vec, lit_vec(cvec)) / F.lit(norms[ci])).alias("s"),
                    F.lit(ci).alias("c"),
                )
                for ci, cvec in enumerate(centroids)
            ]
        )
        if n == 1:
            # argmax needs no sort; struct max breaks score ties by higher
            # centroid id, same as the sort-descending path
            return F.array(F.array_max(scored).getField("c"))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n).getField("c")

    return nearest_lists


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_digits: int | None = None,
) -> DataFrame:
    """IVF-flat ANN: centroids = deterministic corpus sample (id order, no
    k-means dependency); every vector is assigned to its nearest centroid
    (broadcast of C vectors, map-only); each query probes the ``nprobe``
    nearest inverted lists.

    The inverted-list assignment is exactly the partition key you'd cluster
    the table by at scale — probing then prunes 1-nprobe/C of the data.

    Assignment scores by dot(v, c)/‖c‖, not full cosine: argmax is
    identical (1/‖v‖ is a common positive factor) and it cuts the per-
    (row × centroid) interpreted-HOF work to one fold — the assignment
    pass IS the map cost of IVF at scale.  ‖c‖ is pre-computed driver-side
    with the same left-fold order the oracle's ``sqrt(list_sum(...))``
    uses, so scores stay bit-identical across engines.  Candidates are
    scored by the exact cosine of :func:`brute_force_topk`, so probing
    every list reproduces its rows and scores exactly."""
    nearest_lists = _coarse_quantizer(corpus, n_centroids, id_col, vec_col)
    # the list ids are computed from the raw vectors (each element widens
    # against the double centroid literals); the side table's double cast
    # and norm are once per row, not once per candidate pair
    c = _vec_table(
        _spread(corpus), id_col, vec_col, "neighbor_id", "__vb", "__nb",
        nearest_lists(F.col(vec_col), 1)[0].alias("__list"),
    )
    q = _vec_table(
        queries, id_col, vec_col, "query_id", "__va", "__na",
        F.explode(nearest_lists(F.col(vec_col), nprobe)).alias("__list"),
    )
    scored = (
        c.join(F.broadcast(q), on="__list")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine_of(round_digits=round_digits).alias("cos"))
    )
    return topk_per_key(scored, "query_id", "neighbor_id", "cos", k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_digits: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Candidates via hyperplane-LSH self-join on (table, bucket), verified
    with exact cosine.  Output: (id_a, id_b, cos), id_a < id_b.

    Single-table recall per pair is p^bits (p = 1 − θ/π) — only adequate
    for near-identical vectors (cos ≥ ~0.95).  For lower thresholds pass
    ``n_tables`` > 1: candidates are OR'd across T independent tables
    (recall 1 − (1 − p^bits)^T) at the cost of T bucket rows per vector.
    The verify step makes precision exact either way."""
    rows = _bucket_map(_infer_dim(df, vec_col, dim), bits, n_tables, seed)
    spread = _spread(df)
    # Group-and-enumerate same-bucket pairs rather than a t⋈t self-join:
    # the self-join plans the bucket pipeline (interpreted hyperplane dot
    # folds × bits × tables — the expensive part) once per branch; the
    # aggregate computes it exactly once, and bucket groups are
    # near-dup-cluster-sized so in-row enumeration is bounded.
    cand = pairs_from_sorted_groups(
        rows(spread, id_col, vec_col, "id")
        .groupBy("tbl", "bkt")
        .agg(F.array_sort(F.collect_list("id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return (
        _scored_pairs(cand, spread, spread, "id_a", "id_b", id_col, vec_col, round_digits)
        .filter(F.col("cos") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    semantic duplicates are pairs in the SAME coarse cluster with cosine
    ≥ threshold — cross-cluster pairs are never examined, which is the
    scale trick: at fixed cluster size the pair work grows linearly with
    the corpus (they run 50k clusters over LAION).  Output:
    (id_a, id_b, cluster, cos), id_a < id_b.

    Clusters come from the deterministic IVF coarse quantizer shared with
    :func:`ivf_topk` (first-C-by-id sample, dot/‖c‖ argmax), so the whole
    operator is reproducible and oracle-checkable end-to-end;
    :func:`kmeans_centroids` drops in for data-adaptive clusters with the
    same plan shape.

    Plan: broadcast centroid literals → map-only assignment →
    group-and-enumerate in-cluster id pairs (ONE assignment pipeline — no
    self-join) → the pair list joined back onto the vector+norm table
    for the exact-cosine verify."""
    nearest = _coarse_quantizer(df, n_clusters, id_col, vec_col)
    spread = _spread(df)
    assigned = spread.select(
        F.col(id_col).alias("id"),
        nearest(F.col(vec_col), 1)[0].alias("cluster"),
    )
    # single-assignment clusters are disjoint — pairs are unique without a
    # distinct pass
    cand = pairs_from_sorted_groups(
        assigned.groupBy("cluster")
        .agg(F.array_sort(F.collect_list("id")).alias("ds"))
        .filter(F.size("ds") > 1),
        carry=("cluster",),
        distinct=False,
    )
    return (
        _scored_pairs(cand, spread, spread, "id_a", "id_b", id_col, vec_col, round_digits)
        .select("id_a", "id_b", "cluster", "cos")
        .filter(F.col("cos") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric int quantization round-trip error — the
    storage-shrink step every embedding store takes before ANN at scale
    (e.g. 4× smaller at int8, recall cost ≈ the mae this reports).

    scale = max(|x_i|) / (2^(bits-1) - 1);  q_i = round(x_i / scale);
    dq_i = q_i · scale;  mae = mean(|x_i − dq_i|).

    Everything is one in-row fold over the vector (map-only, no shuffle,
    no UDF); deterministic because the folds run in array order.  A zero
    vector has scale 0 and mae 0 by definition.

    Output: (id, qscale, mae) — both rounded to 6dp (values are
    O(max|x|/2^bits), so 6dp keeps ~3 significant digits at unit norm)."""
    qmax = float((1 << (bits - 1)) - 1)
    v = _as_double(F.col(vec_col))
    amax = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))

    # Bind the scale ONCE as a lambda variable via a 1-element transform:
    # referencing a derived scale column inside the error fold would get
    # projection-collapsed — Catalyst inlines the max-fold expression at
    # every element reference, turning the O(d) pass into O(d²) (the
    # minhash signature lesson).  A lambda variable is a bound VALUE.
    def _mae(s: Column) -> Column:
        return F.when(s == 0.0, F.lit(0.0)).otherwise(
            F.aggregate(
                v,
                F.lit(0.0),
                lambda acc, x: acc + F.abs(x - F.round(x / s, 0) * s),
            )
            / F.size(v)
        )

    pair = F.transform(
        F.array(amax / F.lit(qmax)),
        lambda s: F.struct(s.alias("scale"), _mae(s).alias("mae")),
    )[0]
    return (
        df.select(F.col(id_col).alias("vec_id"), pair.alias("__p"))
        .select(
            "vec_id",
            F.round("__p.scale", 6).alias("qscale"),
            F.round("__p.mae", 6).alias("mae"),
        )
        .orderBy("vec_id")
    )


def _centroid_mean_expr(exact_means: bool) -> Column:
    """Per-(cluster, dim) centroid mean over exploded ``(vid, x)`` member
    rows — ONE definition, reached only through the single-chain Lloyd
    (:func:`kmeans_centroids`; :func:`pq_codebooks` gets it indirectly
    via its per-subspace kmeans_centroids chains), kept extracted so a
    future second trainer cannot drift from it.

    ``exact_means=True``: deterministic fold — member values sorted by
    id, summed left-to-right as doubles, / count (the dsir summation
    pattern the DuckDB oracle replays bit-for-bit).  ``False``: plain
    double ``avg`` (production; partial-agg order may wiggle last
    bits)."""
    if exact_means:
        return (
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("vid").alias("vid"),
                            F.col("x").cast("double").alias("x"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("x"),
            )
            / F.count("*")
        ).alias("m")
    return F.avg(F.col("x").cast("double")).alias("m")


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    exact_means: bool = False,
) -> list[list[float]]:
    """Distributed Lloyd k-means over an embedding column (cosine
    assignment, mean update).

    Each iteration: one map-only assignment pass (broadcast centroid
    literals) + one posexplode/groupBy mean — the centroid table (k × dim
    doubles) is the ONLY thing that ever reaches the driver.  Deterministic:
    init is the first k rows by id, updates are exact means.

    ``exact_means=False`` (production): centroid means are plain double
    ``avg`` — partial-aggregation order can wiggle the last bits, which no
    real pipeline cares about.  ``exact_means=True`` (oracle parity): each
    (cluster, dim) mean is a LEFT FOLD of the member values in ascending
    id order divided by the count — a deterministic float summation that a
    DuckDB ``list_sum(list(x ORDER BY id))`` twin reproduces bit-for-bit
    (the dsir_weights summation pattern).  The fold materializes one
    cluster-sized list per (cluster, dim) row, so it is for small-k
    verification runs, not the 100 TB path.

    Returns the centroids as plain lists (broadcastable literals for
    :func:`ivf_topk`)."""
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in init_rows]
    k = len(centroids)  # corpus may be smaller than the requested k
    # NOT spread: unlike the expression-heavy text operators, a Lloyd
    # iteration over k×(D-or-slice) floats is so small that the
    # repartition exchange costs more than the one-core compute it
    # parallelizes (r11 interleaved A/B: kmeans_assign 2.22 -> 2.62 s
    # min, pq_encode_fast 4.71 -> 6.61 s min WITH spread).
    vecs = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).cache()
    try:
        for _ in range(iters):
            # assignment scores by dot/‖c‖ — argmax-equivalent to cosine
            # (1/‖v‖ is a common positive factor) at a third of the
            # interpreted-HOF folds per (row × centroid)
            norms = [_fold_norm(cent) for cent in centroids]
            scored = F.array(
                *[
                    F.struct(
                        (_dot_raw(F.col("v"), lit_vec(cent)) / F.lit(norms[ci])).alias("s"),
                        F.lit(ci).alias("c"),
                    )
                    for ci, cent in enumerate(centroids)
                ]
            )
            # two-step select: combining array_max(struct...) with
            # posexplode in one projection makes Spark drop the struct
            # field aliases (resolved as col1/col2)
            assigned = vecs.select(
                F.array_max(scored).getField("c").alias("cluster"),
                F.col("vid"),
                F.col("v"),
            ).select("cluster", "vid", F.posexplode(F.col("v")).alias("pos", "x"))
            mean_expr = _centroid_mean_expr(exact_means)
            means = (
                assigned.groupBy("cluster", "pos")
                .agg(mean_expr)
                .groupBy("cluster")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "m")))
                    .getField("m")
                    .alias("centroid")
                )
                .collect()
            )
            new = {r["cluster"]: [float(x) for x in r["centroid"]] for r in means}
            # empty clusters keep their previous centroid
            centroids = [new.get(ci, centroids[ci]) for ci in range(k)]
    finally:
        vecs.unpersist()
    return centroids


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-only cluster assignment under fixed centroids: (id, cluster).

    The k × dim centroid table rides in as broadcast literals; each row
    does one dot/‖c‖ argmax fold (argmax-equivalent to cosine — 1/‖v‖ is
    a common positive factor).  Score ties break toward the HIGHER
    centroid id (struct max), mirrored by the oracle's
    ``ORDER BY s DESC, ci DESC``.  ‖c‖ is pre-computed driver-side with
    the same left-fold order as the oracle's ``sqrt(list_sum(...))``."""

    norms = [_fold_norm(c) for c in centroids]
    scored = F.array(
        *[
            F.struct(
                (_dot_raw(F.col(vec_col), lit_vec(cent)) / F.lit(norms[ci])).alias(
                    "s"
                ),
                F.lit(ci).alias("c"),
            )
            for ci, cent in enumerate(centroids)
        ]
    )
    return df.select(
        F.col(id_col),
        F.array_max(scored).getField("c").cast("long").alias("cluster"),
    ).orderBy(id_col)


def kmeans_objective(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Mean best-centroid cosine over the corpus (higher = tighter)."""
    scored = F.array(
        *[
            F.struct(
                cosine(F.col(vec_col), lit_vec(cent)).alias("s"),
                F.lit(ci).alias("c"),
            )
            for ci, cent in enumerate(centroids)
        ]
    )
    row = df.select(
        F.avg(F.array_max(scored).getField("s")).alias("obj")
    ).first()
    return float(row["obj"])


# ---------------------------------------------------------------------------
# PCA: distributed second moments, driver-side eigendecomposition
# ---------------------------------------------------------------------------

def mean_vector(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_sums: bool = False,
) -> tuple[list[float], int]:
    """Per-dimension mean of an embedding column as a plain list, plus
    the row count — one aggregate pass, d result rows.  The list feeds
    :func:`covariance_pairs` / :func:`pca_project` as broadcast
    literals, so downstream passes never recompute it.

    ``exact_sums=True``: id-ordered left-fold sums (deterministic,
    oracle-reproducible); default is the map-side-combined sum."""
    base = df.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    if exact_sums:
        msum = F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("vid"), F.col("x")))),
            F.lit(0.0),
            lambda acc, s: acc + s.getField("x"),
        )
    else:
        msum = F.sum("x")
    rows = (
        base.select("vid", F.posexplode("__v").alias("pos", "x"))
        .groupBy("pos")
        .agg(msum.alias("s"), F.count("*").alias("n"))
        .orderBy("pos")
        .collect()
    )
    if not rows:
        return [], 0
    n = int(rows[0]["n"])
    return [float(r["s"]) / float(n) for r in rows], n


def covariance_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_sums: bool = False,
    means: list[float] | None = None,
    n: int | None = None,
) -> DataFrame:
    """Upper-triangle covariance entries of an embedding column:
    (dim_i, dim_j, cov) with 1-based ``dim_i ≤ dim_j`` and
    ``cov = E[x_i·x_j] − E[x_i]·E[x_j]``.

    Plan: one mean pass (:func:`mean_vector` — skipped when the caller
    passes ``means``/``n``), then one in-row pair-product expansion
    (i ≤ j including the diagonal — d(d+1)/2 terms per row, map-only)
    + one (i, j)-keyed sum.  Two corpus scans total, O(d²) aggregate
    rows shuffled; the means re-enter as broadcast literals, so no join
    touches the result.  This is the moment computation PCA, whitening
    and Mahalanobis scoring all start from — the d×d result is
    driver-sized while the input never leaves the executors.

    ``exact_sums=True`` switches both sums to the id-ordered left fold
    (kmeans ``exact_means`` pattern) so a DuckDB twin reproduces every
    double bit-for-bit; the default map-side-combined sum is the
    production path."""
    if means is None or n is None:
        means, n = mean_vector(df, vec_col, id_col, exact_sums)
    dim = len(means)
    av = F.col("__v")
    base = df.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    pairs = base.select(
        "vid",
        F.explode(
            F.flatten(
                F.transform(
                    av,
                    lambda x, i: F.transform(
                        F.slice(av, i + 1, dim),
                        lambda y, j: F.struct(
                            (i + 1).alias("i"),
                            (i + j + 1).alias("j"),
                            (x * y).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("t"),
    ).select("vid", F.col("t.i").alias("i"), F.col("t.j").alias("j"), F.col("t.p").alias("p"))
    if exact_sums:
        psum = F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("vid"), F.col("p")))),
            F.lit(0.0),
            lambda acc, s: acc + s.getField("p"),
        )
    else:
        psum = F.sum("p")
    sums = pairs.groupBy("i", "j").agg((psum / F.lit(float(n))).alias("exy"))
    mvec = lit_vec(means)
    return sums.select(
        F.col("i").alias("dim_i"),
        F.col("j").alias("dim_j"),
        (
            F.col("exy")
            - F.element_at(mvec, F.col("i")) * F.element_at(mvec, F.col("j"))
        ).alias("cov"),
    )


def pca_components(
    df: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[float], list[float]]:
    """Top-k principal components: the covariance is computed
    distributed (:func:`covariance_pairs`), the d×d eigendecomposition
    runs on the driver (numpy — d is small even when the corpus is not).

    Returns (components [k × d, unit rows with a deterministic sign:
    largest-|coeff| entry positive], explained_variance [k],
    mean [d]).  The mean pass runs once and feeds both the covariance
    and the returned mean — two corpus scans total."""
    mean, n = mean_vector(df, vec_col, id_col)
    cov_rows = covariance_pairs(df, vec_col, id_col, means=mean, n=n).collect()
    d = max(r["dim_j"] for r in cov_rows)
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["dim_i"] - 1, r["dim_j"] - 1] = r["cov"]
        C[r["dim_j"] - 1, r["dim_i"] - 1] = r["cov"]
    w, v = np.linalg.eigh(C)  # ascending eigenvalues, orthonormal columns
    order = np.argsort(w)[::-1][:k]
    comps, variances = [], []
    for idx in order:
        vec = v[:, idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        variances.append(float(w[idx]))
    return comps, variances, mean


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    mean: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-only projection onto fixed components: (id, proj array<double>).
    The k × d component matrix and the mean ride as broadcast literals;
    each row does k centered dot-product folds — no shuffle at all."""
    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        lit_vec(mean),
        lambda x, m: x - m,
    )
    projs = F.array(
        *[_dot_raw(centered, lit_vec(c)) for c in components]
    )
    return df.select(F.col(id_col), projs.alias("proj"))


def mahalanobis_scores(
    df: DataFrame,
    components: list[list[float]],
    variances: list[float],
    mean: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-12,
) -> DataFrame:
    """Approximate Mahalanobis distance per vector from the top-k PCA
    decomposition: ``score² = Σ_i proj_i² / var_i`` over the retained
    components — the distribution-aware outlier score (a vector far
    along a LOW-variance direction is more anomalous than one equally
    far along a high-variance one).

    Map-only: components/variances/mean ride as broadcast literals from
    :func:`pca_components`; each row does k centered dot folds + one
    in-row weighted sum.  Zero exchanges (same contract as
    :func:`pca_project`).  Output: (id, maha) with maha = sqrt of the
    truncated quadratic form, rounded 6dp."""
    if not components:
        raise ValueError("mahalanobis_scores: need at least one component")
    if len(components) != len(variances):
        raise ValueError(
            f"mahalanobis_scores: {len(components)} components vs "
            f"{len(variances)} variances — zip would silently truncate"
        )
    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        lit_vec(mean),
        lambda x, m: x - m,
    )
    terms = [
        (_dot_raw(centered, lit_vec(c)) ** 2) / F.lit(max(v, eps))
        for c, v in zip(components, variances)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return df.select(
        F.col(id_col), F.round(F.sqrt(total), 6).alias("maha")
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split the D dims into m contiguous
# subspaces, k-means each subspace into k codewords, store each vector as m
# small codes, and answer queries with asymmetric distance computation
# (ADC): score(q, x) ≈ Σ_s <q_s, codeword(code_s(x))>.
# ---------------------------------------------------------------------------

def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_means: bool = False,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``m`` independent spherical k-means runs, one
    per contiguous dim slice, reusing :func:`kmeans_centroids` (cosine
    assignment, deterministic id-order init; ``exact_means=True`` for
    the oracle-parity fold).  Returns ``[m][k][D/m]`` plain floats —
    m·k·(D/m) = k·D doubles, always a driver-sized literal.

    Inner-product flavor: codewords trained by the engine's shared
    cosine Lloyd (the IVF coarse-quantizer trainer) and scored by dot
    product at query time — consistent with the engine-wide cosine
    retrieval over (near-)unit-norm embeddings.  The corpus is scanned
    once per subspace per iteration; training is a verification-scale
    or sampled-subset activity, the ENCODE/SEARCH paths are the 100 TB
    ones."""
    dim = _infer_dim(df, vec_col, None)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    def _train(s: int) -> list[list[float]]:
        sdf = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col),
        )
        return kmeans_centroids(
            sdf, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
            exact_means=exact_means,
        )

    if m == 1:
        return [_train(0)]
    # the m subspace chains are independent Lloyd runs whose per-
    # iteration jobs are tiny (k×(D/m) collect each) — submit them from
    # a few threads so the driver round-trips overlap instead of
    # serializing (measured ~2.5× on the m=4 bench path; results are
    # identical, each chain is deterministic in isolation).  The pool is
    # bounded: each chain caches its own corpus slice for the Lloyd
    # iterations, so concurrency multiplies executor cache pressure —
    # 4 chains ≈ the whole corpus cached once at D/m width per slice.
    # r11 NOTE: a fused single-job-per-iteration trainer (all m chains
    # scored in one projection, one (subspace, cluster, dim) means
    # aggregate) was built and measured — bit-identical books on both
    # mean paths, but 7.5 s steady vs 4.9 s for this threaded shape at
    # sf0.1 even with the corpus spread: the per-iteration fused plan
    # (m·k lit_vec literals + m·k interpreted folds in one projection)
    # costs more in driver-side plan construction/analysis than the
    # overlapped tiny jobs cost in scheduler latency.  Kept threaded.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 4)) as ex:
        return list(ex.map(_train, range(m)))


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int> of length m).

    ONE map-only pass — every subspace's argmax runs over broadcast
    codeword literals in the same projection; nothing shuffles, nothing
    joins.  Per-subspace scoring mirrors :func:`kmeans_assign` exactly
    (dot/‖c‖ spherical score, tie → higher code id), so an oracle can
    replay the assignment with the kmeans CTE machinery."""
    return df.select(
        F.col(id_col), _pq_code_array(books, vec_col).alias("codes")
    )


def _pq_code_array(books: list[list[list[float]]], vec_col: str) -> Column:
    """The encode expression: array of per-subspace argmax codes —
    shared by pq_encode and the IVF+PQ composed path so the two cannot
    drift."""
    sub = len(books[0][0])
    cols = []
    for s, book in enumerate(books):
        sl = F.slice(F.col(vec_col), s * sub + 1, sub)
        norms = [_fold_norm(c) for c in book]
        scored = F.array(
            *[
                F.struct(
                    (_dot_raw(sl, lit_vec(c)) / F.lit(norms[ci])).alias("s"),
                    F.lit(ci).alias("c"),
                )
                for ci, c in enumerate(book)
            ]
        )
        cols.append(F.array_max(scored).getField("c"))
    return F.array(*cols)


def _lit_mat(book: list[list[float]]) -> Column:
    """k×sub literal array-of-arrays in ONE parse (the lit_vec rule:
    per-element py4j calls cost seconds of plan latency; same non-finite
    guard — nan/inf would render as an invalid SQL literal and fail
    later with an obscure parse error)."""
    if not all(math.isfinite(float(v)) for c in book for v in c):
        raise ValueError("_lit_mat: non-finite element (nan/inf) in codebook")
    rows = ",".join(
        "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")" for c in book
    )
    return F.expr(f"array({rows})")


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """ADC top-k over PQ codes: (query_id, neighbor_id, score, rank).

    ``corpus_codes`` is :func:`pq_encode` output (id, codes) — the
    compressed corpus (m small ints per vector instead of D floats, a
    16-64× memory cut at typical settings).  The query side broadcasts;
    per-pair cost is m short folds against codeword literals selected by
    ``element_at`` — no decode, no shuffle of the corpus.  Score is
    rounded BEFORE ranking (ties then break by neighbor id) so rankings
    reproduce across engines.  At corpus scale, prune candidates with
    the IVF route first and ADC-score only the shortlist (or use
    :func:`ivf_pq_topk`, which fuses both)."""
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    joined = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), "codes"
    ).join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    score = _adc_score(books, "__qvec", "codes")
    scored = joined.select(
        "query_id", "neighbor_id", F.round(score, round_digits).alias("score")
    )
    return topk_per_key(scored, "query_id", "neighbor_id", "score", k)


def _adc_score(
    books: list[list[list[float]]], qvec_col: str, codes_col: str
) -> Column:
    """Asymmetric-distance score expression: Σ_s <q_s, codeword(code_s)>
    — m short folds against element_at-selected codeword literals,
    summed left-to-right (deterministic; DuckDB replays each fold with
    list_sum and the sum with left-assoc +)."""
    sub = len(books[0][0])
    terms = []
    for s, book in enumerate(books):
        qs = F.slice(F.col(qvec_col), s * sub + 1, sub)
        cw = F.element_at(_lit_mat(book), F.col(codes_col).getItem(s) + 1)
        terms.append(_dot_raw(_as_double(qs), cw))
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return score


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """The fused billion-scale ANN recipe: IVF coarse lists bound the
    candidate set (probe ``nprobe`` of ``n_centroids`` inverted lists),
    PQ codes carry the candidates (m small ints each), ADC scores the
    shortlist — the corpus's raw vectors are read in exactly ONE
    map-only pass (coarse assignment + encode in the same projection)
    and never reach the join.

    Join volume per query is ``nprobe/n_centroids`` of the corpus in
    compressed form; everything else is the :func:`pq_topk` score path
    (rounded before ranking, ties by neighbor id)."""
    nearest_lists = _coarse_quantizer(corpus, n_centroids, id_col, vec_col)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _pq_code_array(books, vec_col).alias("codes"),
        nearest_lists(F.col(vec_col), 1)[0].alias("__list"),
    )
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(nearest_lists(F.col(vec_col), nprobe)).alias("__list"),
    )
    scored = (
        c.join(F.broadcast(q), "__list")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_adc_score(books, "__qvec", "codes"), round_digits)
            .alias("score"),
        )
    )
    return topk_per_key(scored, "query_id", "neighbor_id", "score", k)


# ------------------------------------------------------------ random projection

def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: out = R·v / √out_dim with
    R ~ N(0,1) rows — the standard dense JL map (distances preserved to
    (1±ε) with out_dim = O(log N / ε²)), used to shrink embeddings before
    downstream ANN / clustering passes.

    Map-only: the projection matrix is an (out_dim × dim) LITERAL folded
    per row (one expression parse, the hyperplane_bucket lesson) — zero
    shuffle, zero state, nothing scales with corpus size but the scan.
    Folds run left-to-right in double, so the oracle replays them
    bit-for-bit.  Output: (id, proj array<double>).
    """
    dim = _infer_dim(df, vec_col, dim)
    planes = random_hyperplanes(dim, out_dim, seed)
    if not np.isfinite(planes).all():
        raise ValueError("random_projection: non-finite plane component")
    scale = 1.0 / math.sqrt(out_dim)
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in p) + ")"
            for p in planes
        )
        + ")"
    )
    proj = F.transform(
        planes_lit, lambda p: _dot_raw(F.col(vec_col), p) * F.lit(scale)
    )
    return _spread(df).select(F.col(id_col), proj.alias("proj"))


# ---------------------------------------------------------------- kNN graph

def knn_graph(
    df: DataFrame,
    k: int = 5,
    method: str = "brute",
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """k-nearest-neighbor graph over the corpus: directed edges
    (src, dst, cos, rank), rank ≤ k by (cos desc, dst) — the substrate
    for graph clustering, SemDeDup-style pruning, and label propagation.

    * ``method="brute"`` — exact: every vector against every other via
      the broadcast corpus (the verifier; quadratic, small corpora only).
    * ``method="ivf"`` — the scale path: one coarse-assignment pass emits
      a SLIM (vec_id, list, rank) table — membership is rank 1, probes
      are ranks 1..nprobe — which is ``localCheckpoint``'ed (disk-backed)
      so the probe⋈member join reads ONE materialized table instead of
      re-planning the C-fold assignment pipeline per branch (the
      derived-table self-join trap).  Candidates are verified with exact
      cosine against the raw corpus (cheap scans), then per-src top-k.
      Shuffle volume: Σ_lists |probes|·|members| candidate id-pairs —
      vectors never ride the candidate join.

    ``round_digits`` rounds cosine BEFORE ranking so rankings are
    reproducible across engines (ties break by dst id).
    """
    if method == "brute":
        edges = brute_force_topk(
            df, df, k=k, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        )
        return edges.select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            "cos",
            "rank",
        )
    if method != "ivf":
        raise ValueError(f"unknown method {method!r} (brute|ivf)")
    nearest_lists = _coarse_quantizer(df, n_centroids, id_col, vec_col)
    spread = _spread(df)
    assign = (
        spread
        .select(
            F.col(id_col).alias("vid"),
            F.posexplode(nearest_lists(F.col(vec_col), nprobe)),
        )
        .select("vid", (F.col("pos") + 1).alias("rk"), F.col("col").alias("lst"))
        .localCheckpoint(eager=False)
    )
    probes = assign.select(F.col("vid").alias("src"), "lst")
    members = assign.filter(F.col("rk") == 1).select(
        F.col("vid").alias("dst"), "lst"
    )
    cand = (
        probes.join(members, "lst")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # scored by the exact cosine of the brute path, so full-probe IVF
    # reproduces its edges and scores exactly
    scored = _scored_pairs(cand, spread, spread, "src", "dst", id_col, vec_col, round_digits)
    return topk_per_key(scored, "src", "dst", "cos", k)


def mutual_knn_pairs(edges: DataFrame) -> DataFrame:
    """Mutual-kNN pairs from a :func:`knn_graph` edge list: (id_a, id_b)
    where BOTH directions are within each other's top-k — the standard
    symmetrization that prunes hub-induced false neighbors.

    Group-and-enumerate on the undirected key (no edge-table self-join —
    the edge pipeline is expensive): an undirected pair with both
    directions present has exactly 2 rows."""
    return (
        edges.select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") == 2)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple-graph edge set (a < b, self-loops
    dropped, deduplicated), localCheckpoint'ed — ONE definition shared
    by triangle_count / degree_assortativity / k_core (the engine-side
    twin of the oracle's shared _knn3_und_cte; three hand-copied
    canonicalization blocks is the divergence class the extraction
    discipline exists to prevent).  Checkpointed because every consumer
    references it from multiple branches (degrees + joins)."""
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle census of the undirected simple graph induced by an
    edge list: one row (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering), where global_clustering = 3·triangles / wedges
    (transitivity) and wedges = Σ_v d(v)·(d(v)−1)/2.

    Plan — the node-iterator with DEGREE orientation (Cohen, MapReduce
    graph-mining; GraphX's strategy): canonicalize to distinct a<b pairs
    (localCheckpoint'ed — degrees, orientation, the closing semi-join and
    the edge count all reuse it, and a derived-table self-join of the
    upstream edge pipeline is the repo's documented anti-pattern), orient
    every edge from its lower-(degree, id) endpoint, enumerate out-wedge
    pairs in-row from each sorted oriented adjacency
    (util.pairs_from_sorted_groups), and close them with ONE semi-join
    against the canonical edge set.  Orientation makes the out-degree of
    any node O(√E), so the wedge explode is bounded even on power-law
    graphs, and each triangle is counted exactly once (at its orientation-
    minimal vertex).  No driver collect; every stage is a partial agg or
    a key-shuffled join."""
    und = _canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # orient low-(degree, id) → high; a < b already, so ties keep a → b
    o = (
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("__da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("__db")), "b")
        .select(
            F.when(F.col("__da") <= F.col("__db"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("s"),
            F.when(F.col("__da") <= F.col("__db"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("t"),
        )
    )
    adj = o.groupBy("s").agg(F.array_sort(F.collect_list("t")).alias("ds"))
    wedges = pairs_from_sorted_groups(adj, "ds", distinct=False)
    tri = wedges.join(
        und.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
        ["id_a", "id_b"],
        "semi",
    ).agg(F.count("*").alias("n_triangles"))
    nodes = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0)
        ).cast("long").alias("n_wedges"),
    )
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("global_clustering"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    round_digits: int = 4,
) -> DataFrame:
    """Degree assortativity of the undirected simple graph induced by an
    edge list (Newman 2002, "Assortative mixing in networks"): the
    Pearson correlation of the degrees at the two ends of each edge —
    do hubs link to hubs (r > 0, social-graph-like) or to leaves
    (r < 0, hub-and-spoke / kNN-like)?

    One row ``(n_nodes, n_edges, r)`` via the closed form over exact
    integer edge-degree moments: with S1 = Σ_e d_u·d_v, S2 = Σ_e
    (d_u + d_v), S3 = Σ_e (d_u² + d_v²),
    r = (4m·S1 − S2²) / (2m·S3 − S2²) — every moment an exact
    DECIMAL(38,0) (d² sums reach m·d_max², the gini wide-arithmetic
    discipline), ONE double division at the end.  r NULL for a
    degree-regular graph (zero variance — the denominator is exactly
    0, never a clamp).

    Plan: canonical distinct a<b edges localCheckpoint'ed (degrees +
    both endpoint joins reference it — the triangle_count shape); the
    moment aggregate is map-side combined; no collect."""
    und = _canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    dec = "decimal(38,0)"
    j = (
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("__da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("__db")), "b")
    )
    da = F.col("__da").cast(dec)
    db = F.col("__db").cast(dec)
    g = j.agg(
        F.count("*").cast("long").alias("m"),
        F.coalesce(F.sum(da * db), F.lit(0).cast(dec)).alias("s1"),
        F.coalesce(F.sum(da + db), F.lit(0).cast(dec)).alias("s2"),
        F.coalesce(F.sum(da * da + db * db), F.lit(0).cast(dec)).alias("s3"),
    )
    nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    md = F.col("m").cast(dec)
    num = F.lit(4).cast(dec) * md * F.col("s1") - F.col("s2") * F.col("s2")
    den = F.lit(2).cast(dec) * md * F.col("s3") - F.col("s2") * F.col("s2")
    r = F.when(den != 0, num.cast("double") / den.cast("double"))
    return g.join(F.broadcast(nodes)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        (F.round(r, round_digits) + F.lit(0.0)).alias("r"),
    )


# ------------------------------------------------------------------- k-core


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """The k-core of the undirected simple graph induced by an edge list:
    the maximal subgraph in which every node has degree ≥ k (Seidman
    '83), computed by simultaneous peeling — each round removes ALL
    nodes whose degree in the surviving subgraph is < k, until a
    fixpoint.  Returns ``(v, d)`` — the surviving nodes with their
    in-core degree — the standard prune before community/cluster work
    (k-core ⊇ every (k+1)-clique, so it's the cheap candidate filter
    for dense-substructure mining over the kNN graph).

    Determinism contract: the fixpoint of simultaneous peeling is the
    unique k-core whatever the round count, so the engine's
    early-exit loop and an oracle that replays rounds to ITS fixpoint
    agree exactly — no round-count coupling needed (peeling is
    monotone: extra rounds past the fixpoint are no-ops).

    Scale: each round is one degree aggregate + two anti-joins on the
    surviving edge set, localCheckpoint'ed to truncate lineage (the
    connected-components discipline, dedup.duplicate_clusters).  Round
    count is bounded by the degeneracy ordering's depth — small for
    real graphs (power-law web/kNN graphs peel in a handful of rounds);
    ``max_rounds`` is a tripwire against pathological chains, not a
    budget.  No driver collect: per-round convergence is a count().
    """
    und = _canonical_undirected(edges, src, dst)
    alive = und
    for _ in range(max_rounds):
        deg = (
            alive.select(F.col("a").alias("v"))
            .unionAll(alive.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
        drop = deg.filter(F.col("d") < k).select("v").localCheckpoint(eager=False)
        if drop.count() == 0:
            break
        alive = (
            alive.join(drop.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(drop.withColumnRenamed("v", "b"), "b", "left_anti")
            .localCheckpoint(eager=False)
        )
    else:
        raise ValueError(
            f"k_core did not converge within {max_rounds} rounds"
        )
    return (
        alive.select(F.col("a").alias("v"))
        .unionAll(alive.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
        .orderBy("v")
    )


# ---------------------------------------------------------- label propagation

def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
    weight_col: str = "cos",
) -> DataFrame:
    """Semi-supervised label propagation over a (kNN) graph: seed labels
    spread along weighted edges; each round, every unseeded node takes
    the label with the highest incoming vote — Σ edge weights from
    neighbors labeled in the PREVIOUS round — ties broken by the
    smallest label (Zhu & Ghahramani '02, hard-clamped seeds).

    Determinism contract: votes are INTEGER weights (round(w·10⁴) — the
    engine's 4dp similarity grid), so per-(node, label) sums are exact
    whatever the partial-aggregation order and the argmax cannot flip on
    float summation noise; the oracle replays every round bit-for-bit.

    Plan shape per round (r12): an explicit ``repartition("__s")``
    establishes the per-node partitioning once and BOTH aggregates run
    on it without further shuffles (HashPartitioning(__s) satisfies the
    (__s, __lab) clustering too).  The edges⋈labels join is left
    AQE-decided: the label table is per-node-sized, so it broadcasts at
    fixture scale (one exchange per round total) but legitimately
    sort-merges at corpus scale — forcing a broadcast would be a
    fixture-only trick.  The per-node argmax is
    ``min(struct(-votes, label))`` — identical exact-integer semantics
    to the previous top-1 window (max votes, then smallest label), minus
    the window's per-partition sort.  The edge table is
    ``localCheckpoint``'ed once (referenced every round); the per-round
    LABEL tables are NOT checkpointed — each round's labels feed exactly
    one consumer, so lineage is LINEAR and all n_iter rounds pipeline
    into one job (r12 interleaved A/B: per-round checkpoints cost a job
    submission each for zero saved work, 4.31 vs 4.13 s at sf0.1,
    identical output).  A caller iterating far past the default n_iter=3
    should re-introduce a periodic checkpoint to bound plan depth.
    The labeled set grows monotonically (a labeled
    neighbor never un-labels), so n_iter bounds propagation DEPTH, not
    correctness.

    Output: (id, label, origin) with origin ∈ seed | propagated |
    unlabeled (label NULL).
    """
    w_int = F.round(F.col(weight_col) * 10000).cast("long")
    e = (
        edges.select(
            F.col("src").alias("__s"), F.col("dst").alias("__d"), w_int.alias("__w")
        )
        .localCheckpoint(eager=False)
    )
    sd = seeds.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__seed")
    )
    base = nodes.select(F.col(id_col).alias("__id")).join(sd, "__id", "left")
    labels = base.select("__id", F.col("__seed").alias("__lab"))
    for _ in range(n_iter):
        best = (
            e.join(
                labels.filter(F.col("__lab").isNotNull()),
                e["__d"] == labels["__id"],
            )
            .repartition("__s")
            .groupBy("__s", "__lab")
            .agg(F.sum("__w").alias("__votes"))
            .groupBy("__s")
            .agg(
                F.min(
                    F.struct(
                        # NULL votes (all-NULL edge weights for a label)
                        # must rank LAST, as the previous window's
                        # `orderBy(votes.desc())` (desc = NULLS LAST)
                        # did — struct ordering would otherwise sort a
                        # NULL field FIRST and hand the argmax to a
                        # label with zero evidence.  Long.MaxValue is
                        # unreachable by any real vote sum.
                        F.coalesce(
                            -F.col("__votes"),
                            F.lit(9223372036854775807).cast("long"),
                        ).alias("__nv"),
                        F.col("__lab").alias("__lab"),
                    )
                ).alias("__m")
            )
            .select(
                F.col("__s").alias("__id"), F.col("__m.__lab").alias("__best")
            )
        )
        labels = base.join(best, "__id", "left").select(
            "__id",
            F.coalesce(F.col("__seed"), F.col("__best")).alias("__lab"),
        )
    return (
        base.join(labels, "__id")
        .select(
            F.col("__id").alias(id_col),
            F.col("__lab").alias(label_col),
            F.when(F.col("__seed").isNotNull(), F.lit("seed"))
            .when(F.col("__lab").isNotNull(), F.lit("propagated"))
            .otherwise(F.lit("unlabeled"))
            .alias("origin"),
        )
        .orderBy(id_col)
    )


# ------------------------------------------------------------------- IVFADC

def ivfadc_components(
    corpus: DataFrame,
    n_centroids: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_means: bool = True,
):
    """Train the IVFADC pair (Jégou et al. TPAMI'11 §IV): the coarse
    centroids AND product-quantization codebooks fitted on the RESIDUALS
    v − c(v) rather than raw vectors — residuals concentrate around the
    origin, so the same code budget quantizes them with far less error
    than raw-vector PQ (the reason every billion-scale FAISS index is
    IVFADC, not IVF+flat-PQ).

    Returns (centroids, books, assignments): C full-dim coarse
    centroids, m per-subspace codebooks trained on residual slices, and
    the slim checkpointed (id, list) assignment table — pass the latter
    to :func:`ivfadc_encode` / :func:`ivfadc_topk` so the coarse argmax
    runs ONCE per corpus, not once per stage (see
    :func:`ivfadc_assignments` for why the list id must be a real
    column, not a re-evaluated expression)."""
    cents = _coarse_centroids(corpus, n_centroids, id_col, vec_col)
    assignments = ivfadc_assignments(corpus, cents, id_col, vec_col)
    res = _residual_table(corpus, cents, id_col, vec_col, assignments)
    # the coarse-centroid rows quantize themselves: residual exactly 0.
    # Zero rows carry no signal and would seed the k-means init with
    # zero-norm vectors (division by zero in the spherical score) — they
    # are excluded from TRAINING only; encode still codes them (all-tie
    # argmax → highest code id, deterministically)
    train = res.filter(F.exists("res", lambda x: x != 0.0))
    books = pq_codebooks(
        train, m=m, k=k, iters=iters, id_col=id_col, vec_col="res",
        exact_means=exact_means,
    )
    return cents, books, assignments


def ivfadc_assignments(
    corpus: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Slim (id, list) coarse-assignment table, ``localCheckpoint``'ed.

    The checkpoint is load-bearing: every residual expression references
    the list id, and Catalyst's projection collapse re-evaluates an
    inline argmax-over-C-folds expression at EVERY reference (the
    documented 64×-minhash pathology — here it would be m·k ≈ 32
    re-evaluations of a C×D fold per row).  A materialized column is
    referenced for free.  At 100 TB the list id is materialized at
    ingest as the clustering key (docs/SCALE.md) and this function is a
    no-op read."""
    nearest = _nearest_lists_from(cents)
    return (
        _spread(corpus)
        .select(
            F.col(id_col).alias(id_col),
            nearest(F.col(vec_col), 1)[0].alias("list"),
        )
        .localCheckpoint(eager=False)
    )


def _residual_table(
    corpus: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """(id, list, res): residual v − c_list with ``list`` a REAL column
    (joined from the checkpointed assignment table, one id-keyed
    shuffle)."""
    assign = (
        assignments
        if assignments is not None
        else ivfadc_assignments(corpus, cents, id_col, vec_col)
    )
    mat = _lit_mat(cents)
    joined = corpus.select(id_col, vec_col).join(assign, id_col)
    res = F.zip_with(
        _as_double(F.col(vec_col)),
        F.element_at(mat, F.col("list") + 1),
        lambda x, y: x - y,
    )
    return joined.select(id_col, "list", res.alias("res"))


def ivfadc_encode(
    corpus: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Encode the corpus to (id, list, codes): each vector's coarse list
    plus m residual codes — the complete IVFADC index payload (a few
    bytes per vector).  Per-subspace argmax mirrors :func:`pq_encode`
    exactly (dot/‖cw‖ spherical score on the residual slice, tie →
    higher code id), so the oracle replays it with the same chain
    machinery over the residual table."""
    sub = len(books[0][0])
    res_tbl = _residual_table(corpus, cents, id_col, vec_col, assignments)
    cols = []
    for s, book in enumerate(books):
        res_s = F.slice(F.col("res"), s * sub + 1, sub)
        norms = [_fold_norm(c) for c in book]
        scored = F.array(
            *[
                F.struct(
                    (_dot_raw(res_s, lit_vec(c)) / F.lit(norms[ci])).alias("s"),
                    F.lit(ci).alias("c"),
                )
                for ci, c in enumerate(book)
            ]
        )
        cols.append(F.array_max(scored).getField("c"))
    return res_tbl.select(id_col, "list", F.array(*cols).alias("codes"))


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    round_digits: int = 4,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVFADC search: probe the ``nprobe`` nearest inverted lists, score
    candidates by ⟨q, c_list + r̂⟩ = ⟨q, c_list⟩ + Σ_s ⟨q_s, codeword_s⟩
    — the coarse term is one fold per (query, probed list), the ADC part
    reads only the m-int codes (raw corpus vectors never reach the
    join).  Exact decomposition, no approximation beyond quantization
    itself; summation is coarse-term-first then the left-assoc ADC
    terms, replayed verbatim by the oracle.

    Join volume per query: nprobe/C of the corpus in compressed form."""
    nearest = _nearest_lists_from(cents)
    codes = ivfadc_encode(
        corpus, cents, books, id_col, vec_col, assignments
    ).select(
        F.col(id_col).alias("neighbor_id"), "list", "codes"
    )
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(nearest(F.col(vec_col), nprobe)).alias("list"),
    )
    mat = _lit_mat(cents)
    coarse = _dot_raw(
        _as_double(F.col("__qvec")), F.element_at(mat, F.col("list") + 1)
    )
    score = coarse + _adc_score(books, "__qvec", "codes")
    scored = (
        codes.join(F.broadcast(q), "list")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, round_digits).alias("score"),
        )
    )
    return topk_per_key(scored, "query_id", "neighbor_id", "score", k)


def embedding_drift(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_sums: bool = False,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise diagonal-covariance Fréchet distance between the
    embedding populations of each group (the FID construction of
    Heusel et al. NeurIPS'17 restricted to diagonal Σ, where it is
    closed-form): d² = Σ_d (μ1,d − μ2,d)² + Σ_d (σ1,d − σ2,d)² — the
    embedding-space drift matrix answering "did this source/label's
    representation distribution move?", the vector sibling of
    jsd_sources/kendall_matrix.  Output one row per unordered group
    pair: ``(group_a, group_b, n_a, n_b, dist2, dist)`` — n_a/n_b count
    the group's VECTORS.

    NULL vector elements are dropped per dimension (so the exact and
    map-side paths agree — an unfiltered NULL would NULL the fold but
    be skipped by F.sum); ragged dimensionalities contribute per-dim
    moments over the vectors that HAVE that dimension.

    Determinism contract (``exact_sums=True``): per-(group, dim) Σx and
    Σx² run as id-ordered left folds (the covariance_pairs pattern —
    oracle-replayable bit-for-bit); μ, σ² = Σx²/n − μ², and
    σ = sqrt(σ²) guarded at ≤ 0 are ONE fixed double expression each;
    the cross-dimension sum folds in dimension order (d-bounded).  The
    default map-side-combined sums are the production path.

    Scale: one corpus-×-d explode into a (group, dim)-keyed aggregate
    (map-side combined on the production path; the exact path's fold
    state is group-size-bounded per dimension — the embedding_covariance
    contract), then everything runs on the groups × d moment table;
    pairs enumerate IN-ROW per dimension from the sorted group structs
    (group-and-enumerate — never a derived-table self-join), bounded by
    groups²·d.
    """
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    ex = base.select(
        "grp", "vid", F.posexplode("__v").alias("pos", "x")
    ).filter(F.col("x").isNotNull())
    if exact_sums:
        mom = (
            ex.groupBy("grp", "pos")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.array_sort(F.collect_list(F.struct("vid", "x"))).alias(
                    "__arr"
                ),
            )
            .select(
                "grp",
                "pos",
                "n",
                F.aggregate(
                    "__arr",
                    F.lit(0.0).cast("double"),
                    lambda a, s: a + s["x"],
                ).alias("s"),
                F.aggregate(
                    "__arr",
                    F.lit(0.0).cast("double"),
                    lambda a, s: a + s["x"] * s["x"],
                ).alias("s2"),
            )
        )
    else:
        mom = ex.groupBy("grp", "pos").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
        )
    nd = F.col("n").cast("double")
    mu = F.col("s") / nd
    var = F.col("s2") / nd - mu * mu
    # exact moments can still cancel to a tiny negative double on a
    # constant dimension — guard BEFORE the sqrt (the Welch-z rule)
    sd = F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0))
    stats = mom.select("grp", "pos", mu.alias("mu"), sd.alias("sd"))
    perdim = stats.groupBy("pos").agg(
        F.array_sort(F.collect_list(F.struct("grp", "mu", "sd"))).alias("gs")
    )
    # group-and-enumerate via the ONE shared in-row pair helper; a/b are
    # the (grp, mu, sd) structs.  n stays OUT of the pair key: with
    # ragged dims a per-dim count would split one group pair into
    # partial-sum rows — the vector counts join back at the end instead
    pr = pairs_from_sorted_groups(
        perdim, ids_col="gs", carry=("pos",), distinct=False
    )
    a, b = F.col("id_a"), F.col("id_b")
    term = (a["mu"] - b["mu"]) * (a["mu"] - b["mu"]) + (
        a["sd"] - b["sd"]
    ) * (a["sd"] - b["sd"])
    pairs = pr.select(
        "pos",
        a["grp"].alias("ga"),
        b["grp"].alias("gb"),
        term.alias("t"),
    )
    agg = pairs.groupBy("ga", "gb").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "t"))),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["t"],
        ).alias("d2")
    )
    gcnt = base.groupBy("grp").agg(F.count("*").cast("long").alias("nv"))
    return (
        agg.join(
            F.broadcast(gcnt.select(F.col("grp").alias("ga"),
                                    F.col("nv").alias("n_a"))),
            "ga",
        )
        .join(
            F.broadcast(gcnt.select(F.col("grp").alias("gb"),
                                    F.col("nv").alias("n_b"))),
            "gb",
        )
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            (F.round(F.col("d2"), round_digits) + F.lit(0.0)).alias("dist2"),
            (F.round(F.sqrt(F.col("d2")), round_digits) + F.lit(0.0)).alias(
                "dist"
            ),
        )
        .orderBy("group_a", "group_b")
    )


def cluster_modularity(
    edges: DataFrame,
    assign: DataFrame,
    edge_a: str = "id_a",
    edge_b: str = "id_b",
    node_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Newman modularity audit of a graph partition: per cluster,
    Q_c = e_c/m − (D_c/2m)² over the UNDIRECTED deduplicated edge set
    (e_c intra-cluster edges, D_c member degree sum, m total edges) —
    "how much better than chance does this partition explain the
    graph's edges".  Σ_c Q_c is Newman-Girvan modularity; a partition
    that merely tracks degree mass scores ≈ 0, dense communities score
    toward 1.  The audit pairs naturally with
    :func:`mutual_knn_pairs`-derived components judged against the
    FULL kNN graph (components are perfectly intra on their own mutual
    edges — judging them on the denser graph is what makes the number
    informative).

    Nodes absent from ``assign`` are their own singleton cluster
    (coalesce(cluster_id, node) — the cluster_safe_split convention).
    Output: (cluster_id, n_nodes, d_sum, intra_edges, contribution)
    ordered by cluster_id; contribution is computed as ONE double
    division of exact integers, (4·m·e_c − D_c²) / (4·m²), so both
    engines see identical doubles.

    Scale: the edge set is checkpointed once (referenced by m, degrees,
    and the intra count), the assignment map is checkpointed slim, and
    every aggregate is map-side combined on cluster keys; m rides along
    as a broadcast scalar row.  BIGINT is safe up to m ≤ 1.4e9 edges
    (4·m² < 2⁶³); past that the expression raises rather than silently
    overflowing (the ols_trend discipline).
    """
    e = (
        edges.select(
            F.least(edge_a, edge_b).alias("a"),
            F.greatest(edge_a, edge_b).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    mrow = e.agg(F.count("*").cast("long").alias("m"))
    amap = (
        assign.select(
            F.col(node_col).alias("node"), F.col(cluster_col).alias("__c")
        )
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    keyed = (
        deg.join(amap, "node", "left")
        .select(
            "node",
            F.coalesce("__c", F.col("node")).alias("ck"),
            "deg",
        )
        .localCheckpoint(eager=False)
    )
    per = keyed.groupBy("ck").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("d_sum"),
    )
    ka = keyed.select(F.col("node").alias("a"), F.col("ck").alias("cka"))
    kb = keyed.select(F.col("node").alias("b"), F.col("ck").alias("ckb"))
    intra = (
        e.join(ka, "a")
        .join(kb, "b")
        .filter(F.col("cka") == F.col("ckb"))
        .groupBy(F.col("cka").alias("ck"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    guard = F.when(
        F.col("m") > F.lit(1_400_000_000),
        F.raise_error(
            F.lit("cluster_modularity: m > 1.4e9 would overflow the "
                  "BIGINT 4*m*m term — widen to DECIMAL first")
        ).cast("long"),
    ).otherwise(F.col("m"))
    return (
        per.join(intra, "ck", "left")
        .crossJoin(F.broadcast(mrow))
        .select(
            F.col("ck").alias("cluster_id"),
            "n_nodes",
            "d_sum",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            F.when(
                F.col("m") > 0,
                F.round(
                    (
                        4 * guard * F.coalesce("intra_edges", F.lit(0))
                        - F.col("d_sum") * F.col("d_sum")
                    ).cast("double")
                    / (4 * guard * guard).cast("double"),
                    4,
                ),
            ).alias("contribution"),
        )
        .orderBy("cluster_id")
    )
