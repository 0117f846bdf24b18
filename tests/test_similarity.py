"""Similarity-search properties: cosine correctness, ANN recall vs brute
force, hyperplane bucket determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamkit_spark import tables
from streamkit_spark.functions import similarity as SIM
from streamkit_spark.functions.similarity import (
    brute_force_topk,
    cosine,
    l2_norm,
    lsh_topk,
)
from tests.conftest import SF_DIR


def test_cosine_identities(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]),
         ([1.0, 2.0], [-1.0, -2.0]), ([3.0, 4.0], [3.0, 4.0])],
        "a array<float>, b array<float>",
    )
    got = [
        round(r["c"], 9)
        for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    ]
    assert got == [1.0, 0.0, -1.0, 1.0]
    norms = [
        round(r["n"], 9) for r in df.select(l2_norm(F.col("a")).alias("n")).collect()
    ]
    assert norms == [1.0, 1.0, round(5 ** 0.5, 9), 5.0]


def test_lsh_recall_against_brute_force(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5, round_digits=4).collect()
    }
    # multi-table LSH (4 bits x 8 tables): recall 1-(1-p^4)^8 — solid even
    # for moderate-similarity neighbors; precision is exact by construction
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, queries, k=5, bits=4, n_tables=8, round_digits=4).collect()
    }
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.6, f"recall collapsed: {recall}"
    # LSH cosine values are exact (only the candidate set is approximate)
    both = brute_force_topk(emb, queries, k=5, round_digits=4).alias("b").join(
        lsh_topk(emb, queries, k=5, bits=4, n_tables=8, round_digits=4).alias("l"),
        ["query_id", "neighbor_id"],
    )
    assert both.filter(F.col("b.cos") != F.col("l.cos")).count() == 0


def test_brute_force_excludes_self_and_ranks_desc(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    rows = brute_force_topk(emb, queries, k=5, round_digits=4).collect()
    by_q = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, pairs in by_q.items():
        ranks = [p[0] for p in sorted(pairs)]
        cosines = [p[1] for p in sorted(pairs)]
        assert ranks == [1, 2, 3, 4, 5]
        assert cosines == sorted(cosines, reverse=True)


def test_kmeans_improves_objective_and_feeds_ivf(spark):
    from streamkit_spark.functions.similarity import (
        kmeans_centroids,
        kmeans_objective,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    init = kmeans_centroids(emb, k=8, iters=0)
    trained = kmeans_centroids(emb, k=8, iters=4)
    assert kmeans_objective(emb, trained) > kmeans_objective(emb, init)
    # deterministic across runs
    again = kmeans_centroids(emb, k=8, iters=4)
    assert trained == again


def test_kmeans_exact_means_close_to_avg_and_assignment_total(spark):
    from streamkit_spark.functions.similarity import (
        kmeans_assign,
        kmeans_centroids,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    fast = kmeans_centroids(emb, k=8, iters=2)
    exact = kmeans_centroids(emb, k=8, iters=2, exact_means=True)
    # the fold-order mean and the avg() mean are the same statistic —
    # they may differ only in the last float bits
    for cf, ce in zip(fast, exact):
        for a, b in zip(cf, ce):
            assert abs(a - b) < 1e-9
    # exact path is run-to-run deterministic (bit-identical)
    assert exact == kmeans_centroids(emb, k=8, iters=2, exact_means=True)
    asg = kmeans_assign(emb, exact)
    n = emb.count()
    rows = asg.collect()
    assert len(rows) == n and len({r["vec_id"] for r in rows}) == n
    assert all(0 <= r["cluster"] < 8 for r in rows)
    # every centroid id that survived is an actual argmax winner for
    # someone; with 500 vectors over 8 id-seeded centroids all 8 win
    assert len({r["cluster"] for r in rows}) == 8


def test_near_dup_multi_table_recall_at_085(spark):
    """Planted near-dups at cos ≥ 0.85: multi-table LSH must recover the
    full exact pair set (single-table recall is p^bits — CLAUDE.md r1
    lesson — multi-table OR-ing fixes it; VERDICT r1 #8)."""
    import math
    import random

    from streamkit_spark.functions.similarity import embedding_near_dup_pairs

    rng = random.Random(7)
    dim = 32
    base = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        base.append([x / n for x in v])
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        # plant a near-dup of every 4th vector: perturbation |e|² ≈ 0.2
        # keeps cosine ≈ 1/sqrt(1.2) ≈ 0.91 — inside [0.85, 0.99]
        if i % 4 == 0:
            w = [x + rng.gauss(0, 0.08) for x in v]
            n = math.sqrt(sum(x * x for x in w))
            rows.append((1000 + i, [x / n for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.85, bits=0, n_tables=1, dim=dim
        ).collect()
        # bits=0 → single bucket → ALL pairs verified: the exact reference
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.85, bits=4, n_tables=12, dim=dim
        ).collect()
    }
    assert exact, "fixture must plant at least one qualifying pair"
    # multi-table recall: full recovery of the exact pair set
    assert got == exact
    # single-table at the same bits misses pairs (the r1 failure mode)
    single = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.85, bits=4, n_tables=1, dim=dim
        ).collect()
    }
    assert single.issubset(exact)


def test_semantic_dedup_finds_planted_near_dup(spark):
    """SemDeDup: a planted near-identical vector is flagged against its
    source (same coarse cluster, cosine above threshold), and every
    reported pair respects the threshold and cluster-scoping."""
    import numpy as np

    from streamkit_spark.functions.similarity import semantic_dedup_pairs

    rng = np.random.RandomState(7)
    base = rng.randn(20, 8)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    rows.append((20, [float(x) for x in base[3] + 0.01 * rng.randn(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup_pairs(
        df, n_clusters=4, threshold=0.95, round_digits=4
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (3, 20) in pairs
    assert all(r["cos"] >= 0.95 for r in out)


def test_semantic_dedup_never_crosses_clusters(spark):
    """Pairs are only ever scored within one coarse cluster: every output
    pair's members map to the same argmax centroid."""
    from streamkit_spark.functions.similarity import (
        _coarse_quantizer,
        semantic_dedup_pairs,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    out = semantic_dedup_pairs(emb, n_clusters=8, threshold=0.35).collect()
    assert len(out) > 0
    nearest = _coarse_quantizer(emb, 8, "vec_id", "embedding")
    assign = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", nearest(F.col("embedding"), 1)[0].alias("c")
        ).collect()
    }
    for r in out:
        assert assign[r["id_a"]] == assign[r["id_b"]] == r["cluster"]


def test_quantization_error_matches_numpy_model(spark):
    import numpy as np

    from streamkit_spark.functions.similarity import quantization_error

    vecs = {
        1: [1.0, -0.5, 0.25, 0.125],
        2: [0.0, 0.0, 0.0, 0.0],          # zero vector: scale 0, mae 0
        3: [0.3, -0.7, 0.11, 0.999],
    }
    df = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: (r["qscale"], r["mae"]) for r in quantization_error(df).collect()}
    for vid, v in vecs.items():
        a = np.array(v, dtype=np.float32).astype(np.float64)
        amax = np.abs(a).max()
        scale = amax / 127.0
        if scale == 0:
            want_scale, want_mae = 0.0, 0.0
        else:
            dq = np.round(a / scale) * scale
            want_scale = round(scale, 6)
            want_mae = round(float(np.abs(a - dq).mean()), 6)
        assert got[vid] == (round(want_scale, 6), want_mae), vid


def test_lit_vec_and_hyperplane_reject_non_finite(spark):
    import numpy as np
    import pytest as _pytest

    from streamkit_spark.functions.similarity import hyperplane_bucket, lit_vec

    with _pytest.raises(ValueError, match="non-finite"):
        lit_vec([1.0, float("nan")])
    with _pytest.raises(ValueError, match="non-finite"):
        hyperplane_bucket(F.col("x"), np.array([[1.0, float("inf")]]))


def test_covariance_matches_numpy(spark):
    import numpy as np

    from streamkit_spark.functions.similarity import covariance_pairs

    emb = tables.load(spark, SF_DIR, "embeddings")
    X = np.array(
        [list(r["embedding"]) for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    want = np.cov(X, rowvar=False, bias=True)
    got = covariance_pairs(emb).collect()
    assert len(got) == X.shape[1] * (X.shape[1] + 1) // 2
    for r in got:
        w = want[r["dim_i"] - 1, r["dim_j"] - 1]
        assert abs(r["cov"] - w) < 1e-9, (r["dim_i"], r["dim_j"])


def test_pca_components_and_projection(spark):
    import numpy as np

    from streamkit_spark.functions.similarity import (
        pca_components,
        pca_project,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    comps, variances, mean = pca_components(emb, k=4)
    C = np.array(comps)
    # orthonormal rows, descending explained variance
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-8)
    assert variances == sorted(variances, reverse=True)
    assert all(v > 0 for v in variances)
    # numpy parity (top eigenvalues of the sample covariance)
    X = np.array(
        [list(r["embedding"]) for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    w = np.linalg.eigvalsh(np.cov(X, rowvar=False, bias=True))
    assert np.allclose(sorted(variances, reverse=True), w[::-1][:4], atol=1e-8)
    # projection: map-only, matches (X - mean) @ C.T
    proj = {
        r["vec_id"]: list(r["proj"])
        for r in pca_project(emb, comps, mean).collect()
    }
    want = (X - np.array(mean)) @ C.T
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").select("vec_id").collect()]
    for row_i, vid in enumerate(ids):
        assert np.allclose(proj[vid], want[row_i], atol=1e-6)
    plan = (
        pca_project(emb, comps, mean)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, "projection must be map-only"


def test_mahalanobis_matches_numpy_and_is_map_only(spark):
    import numpy as np

    from streamkit_spark.functions.similarity import (
        mahalanobis_scores,
        pca_components,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    comps, variances, mean = pca_components(emb, k=4)
    got = {r["vec_id"]: r["maha"] for r in
           mahalanobis_scores(emb, comps, variances, mean).collect()}
    X = np.array(
        [list(r["embedding"]) for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").select("vec_id").collect()]
    C = np.array(comps)
    proj = (X - np.array(mean)) @ C.T
    # mirror the engine's eps clamp (a regenerated fixture could hand
    # eigh a ~0/negative-noise eigenvalue) and allow one 6dp ulp for
    # rounding-mode + summation-order differences at a .5 boundary
    want = np.sqrt((proj**2 / np.maximum(np.array(variances), 1e-12)).sum(axis=1))
    for i, vid in enumerate(ids):
        assert abs(got[vid] - round(float(want[i]), 6)) <= 1.1e-6, vid
    plan = (
        mahalanobis_scores(emb, comps, variances, mean)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, "scoring must be map-only"


# ------------------------------------------------------ product quantization

def _pq_reference_encode(vecs, books):
    """Independent numpy encode: per subspace argmax of dot/||c||, tie ->
    higher code (mirrors the engine's kmeans tie rule)."""
    import numpy as np

    m = len(books)
    sub = len(books[0][0])
    out = {}
    for vid, v in vecs.items():
        codes = []
        for s in range(m):
            seg = np.asarray(v[s * sub:(s + 1) * sub], dtype=float)
            best, best_score = 0, None
            for ci, c in enumerate(books[s]):
                c = np.asarray(c, dtype=float)
                score = float(seg @ c) / float(np.linalg.norm(c))
                if best_score is None or score > best_score or (
                    score == best_score and ci > best
                ):
                    best, best_score = ci, score
            codes.append(best)
        out[vid] = codes
    return out


def test_pq_encode_matches_numpy_reference(spark):
    emb = tables.load(spark, SF_DIR, "embeddings").limit(64)
    books = SIM.pq_codebooks(emb, m=4, k=8, iters=1)
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    ref = _pq_reference_encode(vecs, books)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in SIM.pq_encode(emb, books).collect()
    }
    assert got == ref


def test_pq_codebooks_shapes_and_validation(spark):
    import pytest

    emb = tables.load(spark, SF_DIR, "embeddings").limit(32)
    books = SIM.pq_codebooks(emb, m=4, k=4, iters=1)
    assert len(books) == 4
    assert all(len(b) == 4 for b in books)
    dim = len(emb.select("embedding").first()[0])
    assert all(len(c) == dim // 4 for b in books for c in b)
    with pytest.raises(ValueError, match="not divisible"):
        SIM.pq_codebooks(emb, m=7)


def test_pq_adc_recall_against_brute_force(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = SIM.pq_codebooks(emb, m=4, k=16, iters=2)
    codes = SIM.pq_encode(emb, books)
    pq = SIM.pq_topk(codes, queries, books, k=10)
    brute = SIM.brute_force_topk(emb, queries, k=10, round_digits=4)
    pq_sets = {}
    for r in pq.collect():
        pq_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = tot = 0
    for r in brute.collect():
        tot += 1
        hits += r["neighbor_id"] in pq_sets.get(r["query_id"], set())
    # 16x compression on near-random vectors: modest recall floor — the
    # contract is "far better than the ~0.5% random-10-of-N baseline",
    # and a regression to chance-level fails loudly
    assert tot == 50
    assert hits / tot >= 0.2, f"recall@10 {hits}/{tot}"


def test_pq_adc_scores_approximate_true_dot(spark):
    import math

    emb = tables.load(spark, SF_DIR, "embeddings").limit(128)
    queries = emb.filter(F.col("vec_id") < 2)
    books = SIM.pq_codebooks(emb, m=4, k=16, iters=2)
    codes = SIM.pq_encode(emb, books)
    got = SIM.pq_topk(codes, queries, books, k=5).collect()
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    ref_codes = _pq_reference_encode(vecs, books)
    m, sub = 4, len(books[0][0])
    for r in got:
        q = vecs[r["query_id"]]
        c = ref_codes[r["neighbor_id"]]
        want = 0.0
        for s in range(m):
            seg = q[s * sub:(s + 1) * sub]
            cw = books[s][c[s]]
            want += sum(float(a) * float(b) for a, b in zip(seg, cw))
        assert math.isclose(r["score"], round(want, 4), abs_tol=2e-4)


def test_ivf_pq_scores_agree_with_full_adc(spark):
    """The fused path restricts CANDIDATES but must not change the ADC
    score of any (query, neighbor) pair it does return."""
    emb = tables.load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    books = SIM.pq_codebooks(emb, m=4, k=8, iters=1)
    fused = SIM.ivf_pq_topk(
        emb, queries, books, k=5, n_centroids=8, nprobe=3
    ).collect()
    codes = SIM.pq_encode(emb, books)
    full = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in SIM.pq_topk(codes, queries, books, k=10**6).collect()
    }
    assert len(fused) > 0
    per_q = {}
    for r in fused:
        assert full[(r["query_id"], r["neighbor_id"])] == r["score"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert ranks == sorted(ranks) and len(ranks) <= 5


def test_ivf_full_probe_recall_is_exact(spark):
    """nprobe == n_centroids probes every cell, so IVF must reproduce
    the brute-force top-k (the ivf_recall audit's fixed point) row for
    row, scores included: both paths score by the one exact cosine."""
    emb = tables.load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(emb, queries, k=5).collect()
    full = SIM.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=8).collect()
    assert len(brute) == 25
    assert full == brute


def _cosine_pairs(spark, tmp_path, op):
    """(id_a, id_b, cos) rows of one exact-cosine operator, unrounded, on
    the embeddings fixture."""
    from streamkit_spark.streaming.neardup import EmbeddingDupIndex

    emb = tables.load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    pair = ("query_id", "neighbor_id")
    if op == "brute_force_topk":
        out = SIM.brute_force_topk(emb, queries, k=5)
    elif op == "lsh_topk":
        out = SIM.lsh_topk(emb, queries, k=5, bits=3, n_tables=2)
    elif op == "ivf_topk":
        out = SIM.ivf_topk(emb, queries, k=5, n_centroids=4, nprobe=2)
    elif op == "knn_graph_ivf":
        out, pair = SIM.knn_graph(
            emb.filter(F.col("vec_id") < 200), k=3, method="ivf",
            n_centroids=4, nprobe=2, round_digits=None,
        ), ("src", "dst")
    elif op == "embedding_near_dup_pairs":
        out, pair = SIM.embedding_near_dup_pairs(emb, threshold=-1.0, bits=4), ("id_a", "id_b")
    elif op == "semantic_dedup_pairs":
        out, pair = SIM.semantic_dedup_pairs(emb, n_clusters=8, threshold=-1.0), ("id_a", "id_b")
    else:
        dim = len(emb.first()["embedding"])
        index = EmbeddingDupIndex(spark, str(tmp_path / "idx"), dim, threshold=-1.0, bits=2)
        out, pair = index.process_batch(emb.filter(F.col("vec_id") < 200)), ("vec_id", "dup_of")
        out = out.filter(F.col("dup_of").isNotNull())
    return out.select(F.col(pair[0]).alias("a"), F.col(pair[1]).alias("b"), "cos")


@pytest.mark.parametrize(
    "op",
    [
        "brute_force_topk", "lsh_topk", "ivf_topk", "knn_graph_ivf",
        "embedding_near_dup_pairs", "semantic_dedup_pairs", "EmbeddingDupIndex",
    ],
)
def test_unrounded_score_is_cosine_bit_for_bit(spark, tmp_path, op):
    """Every exact-cosine operator's unrounded score equals
    ``similarity.cosine`` of the same two vectors exactly — one scoring
    rule in double, never a float-product copy of it."""
    emb = tables.load(spark, SF_DIR, "embeddings")
    pairs = _cosine_pairs(spark, tmp_path, op)
    ref = cosine(F.col("va.embedding"), F.col("vb.embedding"))
    got = (
        pairs.join(emb.alias("va"), F.col("a") == F.col("va.vec_id"))
        .join(emb.alias("vb"), F.col("b") == F.col("vb.vec_id"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("cos") != ref).cast("int")).alias("off"),
            F.max(F.abs(F.col("cos") - ref)).alias("gap"),
        )
        .first()
    )
    assert got["n"] > 0
    assert got["n"] == pairs.count()
    assert got["off"] == 0, f"{got['off']} of {got['n']} scores off by up to {got['gap']}"
