"""Curation pipeline: LSH and exact variants agree; keep-rules honored."""

from __future__ import annotations

from streamkit_spark import tables
from streamkit_spark.pipeline import CurationConfig, curate, curation_report
from tests.conftest import SF_DIR


def test_lsh_and_exact_variants_agree(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    exact = curate(docs, CurationConfig(use_lsh=False))
    lsh = curate(docs, CurationConfig(use_lsh=True))
    a = {r["doc_id"] for r in exact.select("doc_id").collect()}
    b = {r["doc_id"] for r in lsh.select("doc_id").collect()}
    assert a == b and len(a) > 0


def test_keep_rules(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs on for a while today", "en", "s", 70),
        (2, "THE QUICK BROWN FOX jumps over the lazy dog and runs on for a while today", "en", "s", 70),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and runs on for a while tonight", "en", "s", 70),  # near dup of 1
        (4, "tiny", "en", "s", 4),  # too few tokens
        (5, "a completely different corpus document with the usual amount of perfectly normal words in it", "en", "s", 90),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    kept = sorted(r["doc_id"] for r in curate(df, CurationConfig(use_lsh=False)).collect())
    assert kept == [1, 5]


def test_report_shape(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    rep = curation_report(docs, CurationConfig(use_lsh=False)).collect()
    assert {r["lang"] for r in rep} <= {"de", "en", "es", "fr", "zh"}
    assert all(r["n_docs"] > 0 and r["total_tokens"] > 0 for r in rep)


def test_cluster_dedup_policy_differs_on_star_components(spark):
    """Pair-drop keeps docs whose only similar neighbour was dropped;
    cluster-collapse keeps one representative per connected component.
    Star component: 2~10 and 3~10 but 2 !~ 3."""
    from streamkit_spark.pipeline import CurationConfig, curate

    hub = "the quick brown fox jumps over the lazy dog again and again today"
    # spoke A: shares a long prefix with hub; spoke B shares a long suffix;
    # A and B overlap too little with each other to pair
    spoke_a = "the quick brown fox jumps over the happy cat every single day"
    spoke_b = "sleepy bears wander over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(2, spoke_a), (3, spoke_b), (10, hub)], "doc_id long, text string"
    )
    cfg = dict(jaccard_threshold=0.2, min_quality=0.0, min_tokens=1, use_lsh=False)

    pair_kept = sorted(
        r["doc_id"]
        for r in curate(docs, CurationConfig(**cfg)).collect()
    )
    cluster_kept = sorted(
        r["doc_id"]
        for r in curate(docs, CurationConfig(cluster_dedup=True, **cfg)).collect()
    )
    assert pair_kept == [2, 3]      # 10 dropped; 2,3 not similar, both kept
    assert cluster_kept == [2]      # whole component collapses to min id


def test_substring_stage_drops_verbatim_overlap(spark):
    """The optional ExactSubstr stage removes docs sharing long verbatim
    spans that word-level near-dup misses (different surrounding text)."""
    span = "copied boilerplate passage that appears verbatim in several documents"
    rows = [
        (1, "first doc with totally original content about query engines and clusters plus " + span, "en", "s", 120),
        (2, span + " but otherwise this document discusses unrelated matters like sailing and maps entirely", "en", "s", 120),
        (3, "an untouched control document with enough normal words to pass every quality threshold easily today", "en", "s", 100),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    base = {r["doc_id"] for r in curate(docs, CurationConfig(min_quality=0.0, min_tokens=1)).collect()}
    assert base == {1, 2, 3}  # jaccard over full docs stays below threshold
    sub = {
        r["doc_id"]
        for r in curate(
            docs,
            CurationConfig(min_quality=0.0, min_tokens=1, substring_min_shared=2),
        ).collect()
    }
    assert sub == {1, 3}  # doc 2 dropped: shares the verbatim span with 1


def test_pipeline_boilerplate_stage_strips_banner(spark):
    from streamkit_spark.pipeline import CurationConfig, curate

    banner = "accept all cookies please now"
    rows = [
        (
            i,
            f"unique start {i} alpha beta\n{banner}\nreal body text number {i} gamma delta",
            "en",
            "web",
            80,
        )
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curate(
        df,
        CurationConfig(
            use_lsh=False,
            boilerplate_min_df=6,
            min_quality=0.0,
            min_tokens=1,
        ),
    ).collect()
    assert out, "docs should survive"
    for r in out:
        assert banner not in r["text"]
        assert f"unique start {r['doc_id']}" in r["text"]


def test_pipeline_classifier_gate_filters(spark):
    from streamkit_spark import tables
    from streamkit_spark.pipeline import CurationConfig, curate
    from tests.conftest import SF_DIR

    docs = tables.load(spark, SF_DIR, "documents")
    base = curate(docs, CurationConfig(use_lsh=False))
    gated = curate(
        docs, CurationConfig(use_lsh=False, classifier_cutoff=0.02)
    )
    nb, ng = base.count(), gated.count()
    assert 0 < ng < nb  # the gate bites but doesn't wipe the corpus


def test_pipeline_containment_stage_drops_quote_inclusion(spark):
    """containment_threshold unions containment edges into the near-dup
    graph: a short doc quoted whole inside a longer one (jaccard far
    below threshold) is deduped only when the stage is on."""
    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    rows = [
        (1, short, "en", "s", len(short)),
        (2, long, "en", "s", len(long)),
        (3, "a completely different corpus document here", "en", "s", 44),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    base = CurationConfig(
        use_lsh=False, jaccard_threshold=0.9, min_quality=0.0, min_tokens=1
    )
    kept_off = sorted(r["doc_id"] for r in curate(df, base).collect())
    assert kept_off == [1, 2, 3]  # jaccard alone misses the subset pair
    from dataclasses import replace

    kept_on = sorted(
        r["doc_id"]
        for r in curate(df, replace(base, containment_threshold=0.9)).collect()
    )
    # the CONTAINED side (the short quoted doc, id 1) is dropped — the
    # superset keeps its unique content
    assert kept_on == [2, 3]
    # cluster mode keeps the min-id representative (Lee'22 canonical-doc
    # semantics) whatever the pair asymmetry
    kept_cl = sorted(
        r["doc_id"]
        for r in curate(
            df,
            replace(base, containment_threshold=0.9, cluster_dedup=True),
        ).collect()
    )
    assert kept_cl == [1, 3]


def test_pipeline_containment_and_jaccard_pair_keeps_one_endpoint(spark):
    """A pair qualifying under BOTH detectors must keep one endpoint:
    C_max >= J, so a jaccard pair reappears in the containment table;
    the jaccard policy drops id_b while containment drops contained_id
    (= id_a when id_a has the smaller shingle set) — without the
    containment-only anti-join the pair's content vanished entirely
    (ADVICE r9 high)."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " iota"  # jaccard 6/7, containment 6/6 over 3-grams
    rows = [
        (1, short, "en", "s", len(short)),
        (2, long, "en", "s", len(long)),
        (3, "a completely different corpus document here", "en", "s", 44),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    cfg = CurationConfig(
        use_lsh=False,
        jaccard_threshold=0.8,
        containment_threshold=0.9,
        min_quality=0.0,
        min_tokens=1,
    )
    kept = sorted(r["doc_id"] for r in curate(df, cfg).collect())
    # jaccard policy drops id_b=2; doc 1 (the contained side of the SAME
    # pair) must survive as the pair's representative
    assert kept == [1, 3]


def test_curation_funnel_accounts_for_every_drop(spark):
    from streamkit_spark.pipeline import curation_funnel

    docs = tables.load(spark, SF_DIR, "documents")
    cfg = CurationConfig(use_lsh=False)
    rows = curation_funnel(docs, cfg).collect()
    assert [r["stage"] for r in rows] == [
        "input", "exact_dedup", "near_dedup", "quality"
    ]
    ns = [r["n_docs"] for r in rows]
    # monotone non-increasing, input = corpus, last = curate() output
    assert ns[0] == docs.count()
    assert all(a >= b for a, b in zip(ns, ns[1:]))
    assert ns[-1] == curate(docs, cfg).count()
    # per-row accounting: dropped == prev - n; input row 0/NULL
    assert rows[0]["n_dropped"] == 0 and rows[0]["drop_pct"] is None
    for prev, r in zip(rows, rows[1:]):
        assert r["n_dropped"] == prev["n_docs"] - r["n_docs"]


def test_curation_funnel_optional_stages_appear(spark):
    from streamkit_spark.pipeline import curation_funnel

    docs = tables.load(spark, SF_DIR, "documents")
    cfg = CurationConfig(
        use_lsh=False, substring_min_shared=2, classifier_cutoff=0.0
    )
    stages = [r["stage"] for r in curation_funnel(docs, cfg).collect()]
    assert stages == [
        "input", "exact_dedup", "near_dedup", "substring_dedup",
        "quality", "classifier",
    ]


def test_benchmark_curate_builds_one_pair_pass(spark, jobs_of):
    """The benchmark's curate config (exact Jaccard 0.8, containment 0.6,
    cluster dedup) plans ONE candidate set and ONE verify: its edge
    table's optimized plan holds one array_intersect, and the build
    starts 11 jobs — 5 for the eager ``shingle_ranks`` checkpoint and 6
    for ``duplicate_clusters``' bounded collect of the pair pass (21 when
    each detector planned its own candidates and verify and the losers'
    join ran a count probe; 12 while ``spread`` probed the exact-dedup
    shuffle's partition count by running it)."""
    from streamkit_spark.functions import dedup as D
    from streamkit_spark.pipeline import _near_dup_pairs

    docs = tables.load(spark, SF_DIR, "documents")
    cfg = CurationConfig(
        use_lsh=False, cluster_dedup=True, containment_threshold=0.6
    )
    edges = _near_dup_pairs(D.dedup_exact(docs), cfg).select("id_a", "id_b")
    plan = edges._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_intersect") == 1
    assert jobs_of(lambda: curate(docs, cfg)) == 11
