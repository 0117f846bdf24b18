"""Dedup operator properties: exact dedup with planted duplicates, LSH
recall vs exact Jaccard, SimHash near-dup detection."""

from __future__ import annotations

import pytest

from streamkit_spark import tables
from streamkit_spark.functions import dedup as D
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_with_dupes(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "THE  QUICK  BROWN  FOX jumps over the lazy dog again and again today"),
        (3, "a completely different document about spark query engines and scale"),
        (4, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (5, "another unrelated text mentioning embeddings and lsh buckets loudly"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup_normalizes_case_and_whitespace(docs_with_dupes):
    groups = D.exact_duplicate_groups(docs_with_dupes).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1
    kept = sorted(r["doc_id"] for r in D.dedup_exact(docs_with_dupes).collect())
    assert kept == [1, 3, 4, 5]


def test_jaccard_finds_one_word_edit(docs_with_dupes):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs_with_dupes, threshold=0.5).collect()
    }
    # 1 vs 4 differ by the final word only
    assert (1, 4) in pairs and pairs[(1, 4)] > 0.7
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after tokenize
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_minhash_lsh_recall_matches_exact(spark):
    """On the fixture corpus the LSH path must recover every exact-Jaccard
    pair at the 0.6 threshold (verify step removes false positives, so
    equality = perfect recall here)."""
    docs = tables.load(spark, SF_DIR, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs, threshold=0.6).collect()}
    assert lsh == exact
    assert len(exact) > 0  # fixture plants near-dups


def test_simhash_flags_near_identical(docs_with_dupes):
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_pairs(docs_with_dupes, max_hamming=6).collect()}
    assert (1, 2) in pairs  # identical token streams → hamming 0
    assert (1, 4) in pairs  # one token differs → small hamming


@pytest.mark.parametrize("threshold", [100_000, 0])  # driver / distributed path
def test_duplicate_clusters_components(spark, threshold):
    # two components: a chain 1-2-3-4 (diameter 3, exercises pointer
    # jumping) and a pair 10-11; 99 is absent from any pair
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.duplicate_clusters(
            pairs, small_graph_threshold=threshold
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_canonical_drops_non_representatives(spark, docs_with_dupes):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a long, id_b long")
    clusters = D.duplicate_clusters(pairs)
    kept = sorted(
        r["doc_id"]
        for r in D.dedup_keep_canonical(docs_with_dupes, clusters).collect()
    )
    # 2 and 4 collapse into canonical 1; singletons 3 and 5 pass through
    assert kept == [1, 3, 5]


def test_winnowing_hash_paths_honor_guarantee(spark):
    """Winnowing's detection guarantee is hash-agnostic: every pair
    sharing an exact substring of ≥ k+w-1 chars MUST be found by both the
    xxhash64 production path and the md5 oracle path.  (The full pair
    sets at min_shared=1 legitimately differ between hash functions —
    which gram wins a window-min depends on the hash values — so the
    comparison is against a Python ground truth of guaranteed pairs, not
    between the two paths.)"""
    k, w = 16, 8
    docs = tables.load(spark, SF_DIR, "documents")
    texts = {r["doc_id"]: r["text"].lower() for r in docs.collect()}
    grams: dict[int, set[str]] = {
        d: {t[i : i + (k + w - 1)] for i in range(len(t) - (k + w - 2))}
        for d, t in texts.items()
    }
    ids = sorted(grams)
    must = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if grams[a] & grams[b]
    }
    assert must, "fixture plants verbatim overlaps"

    for hash_fn in ("xxhash64", "md5"):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in D.substring_dup_pairs(
                docs, k=k, w=w, min_shared=1, hash_fn=hash_fn
            ).collect()
        }
        missed = must - got
        assert not missed, f"{hash_fn} missed guaranteed pairs: {sorted(missed)[:5]}"


def test_winnow_fingerprints_rejects_unknown_hash(spark):
    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(ValueError, match="hash_fn"):
        D.winnow_fingerprints(docs, hash_fn="sha1")


def test_repetition_stats_flags_loops(spark):
    from streamkit_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all these words are entirely unique here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["dup_word_frac"] > 0.8
    assert rows[1]["top_bigram"] == "spam spam"
    # 5 occurrences x 9 chars / 29 chars > 1 (overlapping occurrences)
    assert rows[1]["top_bigram_frac"] > 0.9
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] < 0.5


@pytest.mark.parametrize("threshold", [0, 100_000])  # distributed / driver path
def test_duplicate_clusters_matches_union_find_model(spark, threshold):
    """Property: on random graphs, both paths — the DISTRIBUTED
    hash-to-min loop (forced via small_graph_threshold=0) and the
    driver-side union-find — equal a sequential union-find (small, fixed
    seed set to keep Spark round-trips bounded; each case still covers
    chains, cliques, and isolated pairs)."""
    import random

    for seed in range(4):
        rng = random.Random(seed)
        n = rng.randint(2, 24)
        m = rng.randint(1, 30)
        edges = sorted(
            {
                (a, b)
                for a, b in (
                    sorted(rng.sample(range(n), 2)) for _ in range(m)
                )
            }
        )
        if not edges:
            continue

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        want = {v: min(u for u in touched if find(u) == find(v)) for v in touched}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in D.duplicate_clusters(
                pairs, small_graph_threshold=threshold
            ).collect()
        }
        assert got == want, f"seed={seed}"


def test_duplicate_clusters_small_path_jobs(spark, jobs_of):
    """The driver path takes ONE bounded collect of the checkpointed
    pairs and answers with an Arrow-backed local frame: building it
    starts 3 jobs on this 4-pair input (5 when the path also ran a
    symmetrize/distinct checkpoint, a count and a collect) and
    collecting the answer starts none (1 with createDataFrame)."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = []
    assert jobs_of(lambda: out.append(D.duplicate_clusters(pairs))) < 5
    assert jobs_of(lambda: out.append(out[0].collect())) == 0
    assert {r["doc_id"]: r["cluster_id"] for r in out[1]} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10
    }


# ---------------------------------------------------------------------------
# winnowing exact-substring dedup
# ---------------------------------------------------------------------------

def test_winnow_guarantee_shared_substring(spark):
    """Winnowing detection GUARANTEE (not probabilistic): two docs sharing
    an exact substring of >= k + w - 1 chars select at least one identical
    fingerprint (Schleimer et al. SIGMOD'03 theorem 1)."""
    shared = "this exact span of text is copied verbatim between documents"
    rows = [
        (1, "prefix junk alpha " + shared + " trailing content one"),
        (2, "totally other beginning " + shared + " and a different end"),
        (3, "no overlap here at all just independent words nothing alike"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.substring_dup_pairs(docs, k=16, w=8, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnow_fingerprints_match_python_model(spark):
    """Engine fingerprints equal a direct per-doc python winnowing
    implementation (same k-gram md5, same window-min), including the
    short-doc (len < k) and few-grams (< w) degenerate windows and
    multibyte text."""
    import hashlib

    k, w = 16, 8
    texts = {
        1: "abcdefghijklmnopqrstuvwxyz0123456789 the quick brown fox",
        2: "short",
        3: "word " * 30,
        4: "tête-à-tête naïve café " * 4,
    }
    expect = set()
    for d, t in texts.items():
        s = t.lower()
        grams = [
            hashlib.md5(s[i : i + k].encode("utf-8")).hexdigest()
            for i in range(max(len(s) - k + 1, 1))
        ]
        nw = max(len(grams) - w + 1, 1)
        fps = {min(grams[j : j + w]) for j in range(nw)}
        expect |= {(d, f) for f in fps}
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["fp"])
        for r in D.winnow_fingerprints(docs, k=k, w=w, hash_fn="md5").collect()
    }
    assert got == expect


def test_substring_pairs_max_df_drops_boilerplate(spark):
    """A fingerprint shared by every doc (boilerplate header) is cut by
    max_df before pair enumeration; the rare shared span still pairs."""
    header = "standard license header present in every single document here"
    rare = "unique collaborative passage appearing in exactly two documents"
    rows = [(i, header + f" filler {i} " + ("x" * i)) for i in range(1, 6)]
    rows[3] = (4, rows[3][1] + " " + rare)
    rows[4] = (5, rows[4][1] + " " + rare)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cut = {
        (r["doc_a"], r["doc_b"])
        for r in D.substring_dup_pairs(
            docs, k=16, w=8, min_shared=1, max_df=3
        ).collect()
    }
    assert (4, 5) in cut
    assert (1, 2) not in cut  # header-only pair died with the hot fps


def test_overlap_coefficient_catches_containment_jaccard_misses(spark):
    """A short doc fully contained in a long one: overlap = 1.0 even
    though Jaccard is low (union dominated by the long doc)."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"word{i} filler{i} extra{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "completely different text with nothing shared here at all")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["overlap"]
        for r in D.overlap_coefficient_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}
    jac = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert (1, 2) not in jac  # the pair Jaccard misses by design


def test_overlap_max_df_cut_drops_boilerplate_only_pairs(spark):
    """Pairs sharing ONLY a boilerplate shingle (df > max_df) are missed —
    the documented recall contract of the df-cut."""
    boiler = "common boilerplate header string"
    rows = [(i, boiler + f" unique{i} tail{i} words{i}") for i in range(1, 8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # boilerplate shingles appear in all 7 docs; max_df=3 cuts them
    got = D.overlap_coefficient_pairs(docs, n=3, threshold=0.5, max_df=3).collect()
    assert got == []


# ------------------------------------------------------------- tfidf cosine

def _tfidf_reference(texts, max_df, ngram=1):
    """Independent dense tf-idf cosine (numpy), pruned vocab."""
    import math

    import numpy as np

    def units(t):
        w = [x for x in t.lower().split() if x]
        if ngram <= 1:
            return w
        return list(dict.fromkeys(
            " ".join(w[i:i + ngram]) for i in range(len(w) - ngram + 1)
        )) if len(w) >= ngram else []

    docs = {i: units(t) for i, t in enumerate(texts)}
    from collections import Counter
    tf = {i: Counter(u) for i, u in docs.items()}
    dfc = Counter(t for c in tf.values() for t in c)
    vocab = sorted(t for t, d in dfc.items() if d <= max_df)
    vi = {t: j for j, t in enumerate(vocab)}
    n = len(texts)
    mat = np.zeros((n, len(vocab)))
    for i, c in tf.items():
        for t, k in c.items():
            if t in vi:
                mat[i, vi[t]] = k * math.log(n / dfc[t])
    out = {}
    for i in range(n):
        for j in range(i + 1, n):
            na, nb = np.linalg.norm(mat[i]), np.linalg.norm(mat[j])
            if na > 0 and nb > 0:
                out[(i, j)] = float(mat[i] @ mat[j] / (na * nb))
    return out


def test_tfidf_cosine_matches_numpy_reference(spark):
    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",
        "omega psi chi phi upsilon",
        "omega psi chi phi tau",
        "alpha omega unrelated words here",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in D.tfidf_cosine_pairs(df, threshold=0.1, max_df=10).collect()
    }
    ref = _tfidf_reference(texts, max_df=10)
    for pair, cos in ref.items():
        if cos >= 0.1:
            assert pair in got, pair
            assert got[pair] == pytest.approx(cos, abs=1e-4)
    assert set(got) <= {p for p, c in ref.items() if c >= 0.1 - 1e-9}


def test_tfidf_cosine_identical_docs_score_one(spark):
    df = spark.createDataFrame(
        [(1, "rare tokens appear here once"), (2, "rare tokens appear here once"),
         (3, "completely different content entirely now")],
        "doc_id long, text string",
    )
    got = D.tfidf_cosine_pairs(df, threshold=0.9, max_df=10).collect()
    assert len(got) == 1
    assert (got[0]["doc_a"], got[0]["doc_b"]) == (1, 2)
    assert got[0]["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_tfidf_cosine_df_cut_drops_ubiquitous_terms(spark):
    # "common" appears in every doc; with max_df=2 it cannot create pairs
    df = spark.createDataFrame(
        [(1, "common aaa"), (2, "common bbb"), (3, "common ccc")],
        "doc_id long, text string",
    )
    assert D.tfidf_cosine_pairs(df, threshold=0.01, max_df=2).collect() == []


def test_tfidf_cosine_shingle_mode_on_fixture(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    rows = D.tfidf_cosine_pairs(
        docs, threshold=0.3, max_df=64, ngram=3
    ).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0.3 <= r["cosine"] <= 1.0
        assert r["n_shared"] >= 1


def test_word_ngrams_distinct_pins_tfidf_tf_shortcircuit(spark):
    # tfidf_cosine_pairs (ngram>=2) short-circuits tf to lit(1) and builds
    # df from the exploded shingle rows — both valid ONLY while word_ngrams
    # stays array_distinct per doc (ADVICE r11: no local test pinned the
    # invariant; the driver oracle was the sole backstop).  Texts chosen so
    # their n-grams REPEAT heavily.
    from streamkit_spark.functions.text import word_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y x y x y x y")],
        "doc_id long, text string",
    )
    for r in df.select(word_ngrams("text", 2).alias("sh")).collect():
        assert len(r["sh"]) == len(set(r["sh"])), r["sh"]
    # and shingle-mode weights on repeated-shingle docs equal the
    # tf==1-per-present-shingle reference
    texts = ["p q p q p q r s", "p q p q r s t u"]
    pair_df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in D.tfidf_cosine_pairs(
            pair_df, threshold=0.01, max_df=10, ngram=2
        ).collect()
    }
    ref = _tfidf_reference(texts, max_df=10, ngram=2)
    for pair, cos in ref.items():
        if cos >= 0.01:
            key = (pair[0] + 1, pair[1] + 1)
            assert got[key] == pytest.approx(cos, abs=1e-6)


def test_jaccard_threshold_sweep_matches_independent_runs(spark):
    from streamkit_spark.functions.dedup import (
        jaccard_threshold_sweep,
        ngram_jaccard_pairs,
    )

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact dup of 1 (j = 1.0)
            (3, base + " w10 w11"),         # high-overlap of 1/2
            (4, "a b c d e f g h i j"),     # disjoint
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["threshold"]: r for r in jaccard_threshold_sweep(
        docs, thresholds=(0.5, 0.9), n=3
    ).collect()}
    assert set(out) == {0.5, 0.9}
    # sweep row at t == an independent run at t
    for t, r in out.items():
        pairs = ngram_jaccard_pairs(docs, n=3, threshold=t).collect()
        assert r["n_pairs"] == len(pairs)
        assert r["n_docs"] == len(
            {p["id_a"] for p in pairs} | {p["id_b"] for p in pairs}
        )
    # monotone: raising the threshold never adds pairs
    assert out[0.9]["n_pairs"] <= out[0.5]["n_pairs"]
    # dup_rate denominator counts ALL docs (incl. the NULL-text one)
    assert out[0.5]["dup_rate"] == round(out[0.5]["n_docs"] / 5, 4)


def test_jaccard_threshold_sweep_empty_thresholds_and_no_pairs(spark):
    import pytest as _pt

    from streamkit_spark.functions.dedup import jaccard_threshold_sweep

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], "doc_id long, text string"
    )
    with _pt.raises(ValueError, match="thresholds"):
        jaccard_threshold_sweep(docs, thresholds=())
    out = jaccard_threshold_sweep(docs, thresholds=(0.5,), n=3).collect()
    assert [tuple(r) for r in out] == [(0.5, 0, 0, 0.0)]


def test_cluster_size_histogram_accounts_for_every_clustered_doc(spark):
    """The dup_cluster_sizes composition: the histogram's n_docs column
    must partition exactly the docs duplicate_clusters assigns, and
    every cluster has size >= 2 by construction (pairs input)."""
    from pyspark.sql import functions as F

    from streamkit_spark.functions.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    cl = duplicate_clusters(pairs)
    sizes = cl.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    hist = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in sizes.groupBy("cluster_size")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .collect()
    }
    # components: {1,2,3}, {10,11}, {20,21,22,23}
    assert hist == {2: (1, 2), 3: (1, 3), 4: (1, 4)}
    assert sum(d for _, d in hist.values()) == cl.count() == 9
    assert min(hist) >= 2


def test_pair_source_matrix_normalizes_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s1"), (4, "s2"), (5, "s3")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        # (1,2): s1-s2; (2,3): s2-s1 (reversed groups -> same cell);
        # (1,3): s1-s1 diagonal; (4,5): s2-s3
        [(1, 2), (2, 3), (1, 3), (4, 5)],
        "id_a long, id_b long",
    )
    got = {
        (r["group_a"], r["group_b"]): r["n_pairs"]
        for r in D.pair_source_matrix(pairs, docs).collect()
    }
    assert got == {("s1", "s2"): 2, ("s1", "s1"): 1, ("s2", "s3"): 1}


def test_substring_exposure_counts_partners_both_directions(spark):
    # one 40+-char sentence shared verbatim by docs 1, 2, 3; doc 4 clean
    shared = "the identical long sentence that repeats verbatim across documents"
    rows = [
        (1, shared + " plus some unique tail for document one"),
        (2, shared + " and a different unique tail for two"),
        (3, shared + " closing with a third distinct ending"),
        (4, "a wholly unrelated document with none of that material"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exp = {r["doc_id"]: r for r in D.substring_exposure(df, hash_fn="md5").collect()}
    # every doc in the trio is exposed to the other two; doc 4 absent
    assert set(exp) == {1, 2, 3}
    assert all(exp[d]["n_partners"] == 2 for d in (1, 2, 3))
    assert all(exp[d]["shared_fps_total"] >= 2 for d in (1, 2, 3))
    # exposure rows must agree with the pair table unioned both ways
    pairs = D.substring_dup_pairs(df, hash_fn="md5").collect()
    want_partners = {d: 0 for d in (1, 2, 3)}
    for p in pairs:
        want_partners[p["doc_a"]] += 1
        want_partners[p["doc_b"]] += 1
    assert {d: exp[d]["n_partners"] for d in exp} == want_partners


def test_minhash_fidelity_estimator_quality(spark):
    """The fidelity audit's own magnitude pin: on planted near-dups the
    signature estimate must sit within the estimator's sampling error
    of the exact Jaccard (std = sqrt(j(1-j)/P) ~ 0.06 at P=64; 4 std
    is a ~1e-4 flake bound), identical docs must read exactly 1.0 on
    both columns, and every candidate row must carry consistent
    integer/ratio fields."""
    from streamkit_spark.functions.dedup import minhash_fidelity

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("dark", "cold")),  # near dup
        (3, "completely different words describing another topic here "
            "with zero overlap against the fox sentences at all okay"),
    ]
    for hf in ("xxhash64", "md5"):
        out = {
            (r["id_a"], r["id_b"]): r
            for r in minhash_fidelity(
                spark.createDataFrame(rows, "doc_id long, text string"),
                hash_fn=hf,
            ).collect()
        }
        assert (0, 1) in out, hf
        exact = out[(0, 1)]
        assert exact["agree_n"] == 64
        assert exact["j_est"] == 1.0 and exact["j_exact"] == 1.0
        assert exact["abs_err"] == 0.0
        for r in out.values():
            assert r["agree_n"] == round(r["j_est"] * 64)
            assert abs(r["j_est"] - r["j_exact"]) <= 4 * (
                (r["j_exact"] * (1 - r["j_exact"]) / 64) ** 0.5
            ) + 0.02, (hf, dict(r))


def test_minhash_signature_hash_fn_validation(spark):
    import pytest

    from streamkit_spark.functions.dedup import minhash_signature

    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash_signature(df, hash_fn="sha1")


def test_one_shingle_ranks_table_per_corpus(spark, monkeypatch):
    """curate() with exact jaccard + containment, containment_split and
    detector_agreement each build ONE ranked-shingle table and share it
    across their exact detectors."""
    import __spark_entry__ as E
    from streamkit_spark.pipeline import CurationConfig, curate

    calls = []
    real = D.shingle_ranks

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(D, "shingle_ranks", counting)
    docs = tables.load(spark, SF_DIR, "documents")
    builds = {
        "curate": lambda: curate(
            docs, CurationConfig(use_lsh=False, containment_threshold=0.6)
        ),
        "containment_split": lambda: E.q_containment_split(spark, SF_DIR),
        "detector_agreement": lambda: E.q_detector_agreement(spark, SF_DIR),
    }
    for name, build in builds.items():
        calls.clear()
        build()
        assert len(calls) == 1, (name, len(calls))

