"""Containment dedup (asymmetric near-dup) + Burrows' Delta stylometry:
subset-detection fixed points, brute-force recall, z-score edges."""

from __future__ import annotations

import itertools

from streamkit_spark.functions.dedup import containment_pairs
from streamkit_spark.functions.text import burrows_delta_pairs


def _docs(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


def test_containment_finds_full_subset_that_jaccard_misses(spark):
    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = _docs(spark, [(1, short), (2, long)])
    rows = containment_pairs(df, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # every shingle of the short doc appears in the long one
    assert r["containment"] == 1.0
    # and jaccard would have rejected this pair at the same threshold
    from streamkit_spark.functions.dedup import ngram_jaccard_pairs

    assert ngram_jaccard_pairs(df, threshold=0.9).count() == 0


def test_containment_threshold_boundary_is_exact(spark):
    # A has 5 shingles, 3 shared -> containment exactly 0.6 (>= passes)
    a = "a b c d e f g"            # shingles: ab c, bcd, cde, def, efg (5)
    b = "a b c d e x1 x2 x3 q r s t u v w"  # shares abc, bcd, cde = 3
    df = _docs(spark, [(1, a), (2, b)])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    assert got == {(1, 2): 0.6}
    assert containment_pairs(df, threshold=0.61).count() == 0


def test_containment_matches_brute_force(spark):
    # brute-force oracle over a small mixed corpus: exact recall AND
    # precision at t=0.5
    texts = {
        1: "w1 w2 w3 w4 w5 w6",
        2: "w1 w2 w3 w4 zz yy",
        3: "w4 w5 w6 w1 w2 w3",
        4: "aa bb cc dd ee",
        5: "aa bb cc dd ee ff gg hh",
        6: "totally different words here now",
    }
    df = _docs(spark, list(texts.items()), "doc_id long, text string")

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    for i, j in itertools.combinations(sorted(texts), 2):
        a, b = sh(texts[i]), sh(texts[j])
        inter = len(a & b)
        m = min(len(a), len(b))
        if m and inter / m >= 0.5:
            want[(i, j)] = (inter, round(inter / m, 4))
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["containment"])
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    assert got == want and len(want) >= 2


def test_burrows_two_group_fixed_point(spark):
    # 2 groups, 2-token vocab, mirrored frequencies.  With the SAMPLE
    # sd (ddof=1, the stylo convention) over g=2 values at ±1/6 around
    # the mean: sd = (1/6)·sqrt(2), z = ±1/sqrt(2), so each differing
    # token contributes |dz| = sqrt(2) and delta = sqrt(2) — an
    # independent closed-form derivation, not a mirror of the code
    import math

    df = _docs(
        spark,
        [("g1", "x x y"), ("g2", "x y y")],
        "source string, text string",
    )
    row = burrows_delta_pairs(df, vocab_k=10).collect()[0]
    assert row["n_vocab"] == 2
    assert row["delta"] == round(math.sqrt(2.0), 4)


def test_burrows_identical_usage_scores_zero(spark):
    df = _docs(
        spark,
        [("a", "x x y"), ("b", "x x y"), ("c", "y y x")],
        "source string, text string",
    )
    got = {
        (r["group_a"], r["group_b"]): r["delta"]
        for r in burrows_delta_pairs(df, vocab_k=10).collect()
    }
    # a and b have identical profiles; both differ from c symmetrically
    assert got[("a", "b")] == 0.0
    assert got[("a", "c")] == got[("b", "c")] > 0.0


def test_burrows_constant_token_contributes_zero(spark):
    # every group uses 'x' identically -> sigma 0 -> the token adds 0,
    # so the delta equals the 1-token matrix over 'y'/'z' scaled by 1/|V|
    df = _docs(
        spark,
        [("a", "x y"), ("b", "x y"), ("c", "x z")],
        "source string, text string",
    )
    got = {
        (r["group_a"], r["group_b"]): r["delta"]
        for r in burrows_delta_pairs(df, vocab_k=10).collect()
    }
    assert got[("a", "b")] == 0.0
    assert got[("a", "c")] > 0.0


def test_rbo_rejects_degenerate_parameters(spark):
    import pytest as _pt

    from streamkit_spark.functions.text import rbo_pairs

    df = _docs(spark, [("a", "x"), ("b", "x")], "source string, text string")
    with _pt.raises(ValueError, match="k must be"):
        rbo_pairs(df, k=0)
    with _pt.raises(ValueError, match="p must be"):
        rbo_pairs(df, k=5, p=1.0)


def test_burrows_vocab_cut_limits_tokens(spark):
    # vocab_k=1 keeps only the global top token; groups that differ
    # ONLY in tail tokens score 0
    df = _docs(
        spark,
        [("a", "x x x tail1"), ("b", "x x x tail2")],
        "source string, text string",
    )
    row = burrows_delta_pairs(df, vocab_k=1).collect()[0]
    assert row["n_vocab"] == 1
    assert row["delta"] == 0.0


def test_containment_edges_make_the_split_leakage_safe(spark):
    """The VERDICT r8 #6 composition: a quote-inclusion pair (containment
    1.0, jaccard below threshold) must share a split_key once containment
    edges join the cluster graph — and demonstrably does NOT under the
    jaccard-only graph."""
    from streamkit_spark.functions.curation import cluster_safe_split
    from streamkit_spark.functions.dedup import (
        near_dup_pairs_from_ranks,
        ngram_jaccard_pairs_from_ranks,
        shingle_ranks,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = _docs(spark, [(1, short), (2, long), (3, "unrelated text entirely here")])
    ranks = shingle_ranks(df)
    jac = ngram_jaccard_pairs_from_ranks(ranks, threshold=0.9)
    near = near_dup_pairs_from_ranks(ranks, 0.9, 0.9)
    assert jac.count() == 0
    rows = near.select("id_a", "id_b", "jaccard_hit", "contained_id").collect()
    assert [tuple(r) for r in rows] == [(1, 2, False, 1)]

    keys_union = {
        r["doc_id"]: r["split_key"]
        for r in cluster_safe_split(df, near).collect()
    }
    # the pair collapses onto the min-id representative; the bystander
    # keeps its own id
    assert keys_union[1] == keys_union[2] == 1
    assert keys_union[3] == 3

    keys_jac = {
        r["doc_id"]: r["split_key"]
        for r in cluster_safe_split(df, jac).collect()
    }
    assert keys_jac[1] != keys_jac[2]
