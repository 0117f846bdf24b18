"""Scale patterns: salted joins, bucketed co-located joins, cursor
pagination, TF-IDF."""

from __future__ import annotations

import pytest

from streamkit_spark import plans, tables
from streamkit_spark.operators.bucketing import co_located_join, write_bucketed
from streamkit_spark.operators.consume import consume_space, consume_space_pages
from streamkit_spark.operators.produce import Store
from streamkit_spark.operators.skew import salted_join
from streamkit_spark.schema import FIXTURE_BINDING
from tests.conftest import SF_DIR


def test_salted_join_matches_plain_join(spark):
    orders = tables.load(spark, SF_DIR, "orders")
    cust = tables.load(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, cust, "o_custkey", n_salt=8).select(
        "o_orderkey", "c_name"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    orders = tables.load(spark, SF_DIR, "orders")
    li = tables.load(spark, SF_DIR, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "bktest.orders_b", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"])
    write_bucketed(li, "bktest.lineitem_b", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"])
    joined = co_located_join(spark, "bktest.orders_b", "bktest.lineitem_b",
                             "o_orderkey")
    # co-located layout: no Exchange on either side
    assert plans.count_exchanges(joined) == 0
    # and it still returns the right answer
    plain = orders.join(li, "o_orderkey")
    assert joined.count() == plain.count()


def test_cursor_pagination_no_dupes_no_gaps(spark, tmp_path):
    store = Store(spark, str(tmp_path / "s"))
    for seg in ("a", "b"):
        store.produce("sp", seg, [(i, b"x", None) for i in range(1, 21)],
                      now_ms=100)
    seen = []
    for page in consume_space_pages(store.events(), "sp", page_size=7):
        assert len(page) <= 7
        seen.extend((r["segment"], r["sequence"]) for r in page)
    assert len(seen) == 40
    assert len(set(seen)) == 40  # no dupes
    # matches the unpaginated scan exactly, in order
    full = [
        (r["segment"], r["sequence"])
        for r in consume_space(store.events(), "sp").collect()
    ]
    assert seen == full


def test_pagination_on_fixture_events(spark):
    ev = tables.load(spark, SF_DIR, "events")
    pages = list(
        consume_space_pages(ev, "signup", page_size=50, binding=FIXTURE_BINDING)
    )
    total = sum(len(p) for p in pages)
    expected = ev.filter("event_type = 'signup'").count()
    assert total == expected
    ids = [r["event_id"] for p in pages for r in p]
    assert len(set(ids)) == total


def test_tfidf_ranks_distinctive_terms(spark):
    rows = [
        (1, "spark spark spark shared shared"),
        (2, "duck duck duck shared shared"),
        (3, "unique words only here truly"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from streamkit_spark.functions.text import tf_idf_top_terms

    top = {
        r["doc_id"]: r["term"]
        for r in tf_idf_top_terms(df, top_k=1).collect()
    }
    # the repeated distinctive term wins over the corpus-common one
    assert top[1] == "spark" and top[2] == "duck"


def test_chunk_documents_overlap_and_coverage(spark):
    from streamkit_spark.functions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(1, 101))  # 100 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=40, overlap=10).orderBy("chunk_idx").collect()
    # stride 30: starts at 1, 31, 61 → 3 full/partial chunks
    assert [r["chunk_idx"] for r in chunks] == [0, 1, 2]
    assert [r["n_tokens"] for r in chunks] == [40, 40, 40]
    first = chunks[0]["chunk_text"].split()
    second = chunks[1]["chunk_text"].split()
    assert first[-10:] == second[:10]  # 10-token overlap
    assert first[0] == "w1" and second[0] == "w31"
    # every token appears in at least one chunk
    covered = set()
    for r in chunks:
        covered.update(r["chunk_text"].split())
    assert covered == {f"w{i}" for i in range(1, 101)}


def test_chunk_documents_short_doc_single_chunk(spark):
    from streamkit_spark.functions.text import chunk_documents

    df = spark.createDataFrame([(1, "just five words right here")], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=40, overlap=10).collect()
    assert len(chunks) == 1 and chunks[0]["n_tokens"] == 5


# ------------------------------------------------------------ salted join

def test_salted_join_outer_parity_and_validation(spark):
    import pytest

    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "hot", "cold")],
        "k string, v long",
    )
    right = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("unmatched", 3)], "k string, r long"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r["k"], r["v"], r["r"])
            for r in salted_join(left, right, "k", how=how, n_salt=4).collect()
        )
        want = sorted(
            (r["k"], r["v"], r["r"])
            for r in left.join(right, "k", how).collect()
        )
        assert got == want, how
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, "k", how="right")
    with pytest.raises(ValueError, match="n_salt must be"):
        salted_join(left, right, "k", n_salt=0)


def test_salted_join_scatters_identical_hot_rows(spark):
    from pyspark.sql import functions as F

    # 200 IDENTICAL hot rows across 8 input partitions — the dedup/count
    # skew shape a pure content hash piles onto ONE sub-key; the
    # (content, partition_id) salt must scatter them AND keep the
    # duplicate multiplicity
    left = spark.createDataFrame(
        [("hot", 1) for _ in range(200)], "k string, v long"
    ).repartition(8)
    right = spark.createDataFrame([("hot", 9)], "k string, r long")
    assert salted_join(left, right, "k", n_salt=8).count() == 200
    n_salts = (
        left.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(
                    *[F.col(c) for c in left.columns], F.spark_partition_id()
                ),
                F.lit(8),
            ),
        )
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts >= 4


def test_new_diagnostics_plan_shapes(spark):
    """Plan contracts for the round-5 fifth-session operators: no
    cartesian products (the only BroadcastNestedLoopJoin allowed is a
    1-row scalar cross), broadcast dimension joins, and the Expand-based
    single-pass cube."""
    import __spark_entry__ as E

    def plan(q):
        return plans.explain_str(E.queries()[q](spark, SF_DIR), "extended")

    # cube: one Expand, dimension joins broadcast, no cartesian
    p = plan("cube_revenue")
    assert "Expand" in p
    assert "CartesianProduct" not in p

    # attribution: the conversions⋈touches join must carry the user
    # equi-key (hash-joinable), never degrade to a pure theta join
    p = plan("attribution_linear")
    assert "CartesianProduct" not in p

    # chi2/ols/weekday: scalar crossJoins are broadcast 1-row sides
    for q in ("chi2_weekday", "value_trend", "weekday_seasonality"):
        assert "CartesianProduct" not in plan(q)


def test_brute_knn_corpus_is_spread(spark):
    """brute_force_topk must fan the corpus side out of a single-file
    scan before the cosine stage (the 1-core serialization trap: 78s ->
    8s measured at sf0.1)."""
    from streamkit_spark.functions import similarity as SIM

    emb = tables.load(spark, SF_DIR, "embeddings")
    edges = SIM.knn_graph(emb, k=3, method="brute")
    # the physical plan must contain a repartition/exchange ABOVE the
    # corpus scan feeding the join (defaultParallelism > 1 in tests)
    p = plans.explain_str(edges, "extended")
    assert "RoundRobinPartitioning" in p or "Exchange" in p


def test_spread_runs_no_job(spark, jobs_of):
    """``spread`` plans without executing its input.  A single-file scan
    is fanned out after a job-free partition count; a shuffled input (the
    exact-dedup aggregate curate spreads) is repartitioned without a
    count, which on an adaptive plan would run the shuffle below it."""
    from streamkit_spark.functions import dedup as D
    from streamkit_spark.functions.util import spread

    docs = tables.load(spark, SF_DIR, "documents")
    for df in (docs, D.dedup_exact(docs)):
        assert jobs_of(lambda: spread(df)) == 0
        assert "RoundRobinPartitioning" in plans.explain_str(spread(df), "extended")


def test_r6_diagnostics_plan_shapes(spark):
    """Plan contracts for the round-6 operators: no cartesian products
    anywhere (scalar crossJoins must be broadcast 1-row sides), and the
    pair stages (jsd, xcorr, robust_trend) must be in-row enumerations
    — no self-join of a derived cells/daily table shows up as a second
    aggregate of the same corpus scan feeding both join sides."""
    import __spark_entry__ as E

    def plan(q):
        return plans.explain_str(E.queries()[q](spark, SF_DIR), "extended")

    for q in (
        "seasonal_strength",
        "acf_daily",
        "wilson_high_value",
        "xcorr_daily",
        "jsd_sources",
        "token_burstiness",
        "interarrival",
        "robust_trend",
        "holt_daily",
        "ranksum_value",
        "ks_value",
        "score_calibration",
        "dedup_sweep",
    ):
        assert "CartesianProduct" not in plan(q), q


def test_r8_plan_shapes(spark):
    """Plan contracts for the round-8 operators: no cartesian products
    anywhere (scalar crossJoins are broadcast 1-row sides); the
    embedding-drift and hill pair/threshold stages are in-row /
    window work over cell tables, never a derived-table self-join
    that re-plans the corpus scan per branch."""
    import __spark_entry__ as E

    def plan(q):
        return plans.explain_str(E.queries()[q](spark, SF_DIR), "extended")

    for q in (
        "gate_kappa",
        "calibration_ece",
        "calibration_brier",
        "hill_tail",
        "user_novelty",
        "embedding_drift",
        "kendall_matrix",
        "benford_value",
        "dup_cluster_sizes",
        "rbo_sources",
        "oov_rates",
        "burrows_delta",
        "dedup_containment",
    ):
        assert "CartesianProduct" not in plan(q), q


def test_classifier_gate_table_is_spread(spark):
    """classifier_gate_table must fan a single-file corpus out before
    its two expression-heavy branches (per-token md5 scoring + the rule
    metrics/bigram explode) — the zorder_stats/brute-kNN 1-core trap,
    measured 1.8x on calibration_ece at sf0.1."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, SF_DIR, "documents")
    gate = C.classifier_gate_table(docs, bias=0.1)
    p = plans.explain_str(gate, "extended")
    assert "RoundRobinPartitioning" in p


def test_r11_plan_shapes(spark):
    """Plan contracts for the round-11 operators: no cartesian products;
    bm25's tokenize input is spread out of a single-file scan (the
    1-core trap, sixth+ occurrence class); minhash_fidelity's signature
    aggregate is checkpointed (3 references: band rows + both pair
    sides) so the plan carries the scan once, not once per branch."""
    import __spark_entry__ as E

    def plan(q):
        return plans.explain_str(E.queries()[q](spark, SF_DIR), "extended")

    for q in ("bm25_search", "classifier_ap", "jt_trend",
              "minhash_fidelity", "pq_recall", "ivfadc_recall"):
        assert "CartesianProduct" not in plan(q), q

    # bm25's per_doc localCheckpoint MATERIALIZES the spread+tokenize
    # segment, so the repartition is invisible in the final plan string
    # (it shows only Scan ExistingRDD) — a plan-text assert here is
    # either vacuous ("Exchange") or impossible ("RoundRobin..."), the
    # r6/r7/r9 vacuous-assert class from the other direction.  Pin the
    # spread at the source level instead, where the checkpoint can't
    # hide it.
    import inspect

    from streamkit_spark.functions.text import _term_doc_stats, token_cells

    # the retrieval base (bm25/ql) and the token-cell builder both
    # spread their input — pinned at the source level since checkpoints
    # / aggregates hide the repartition from downstream plan text
    assert "spread(" in inspect.getsource(_term_doc_stats)
    assert "spread(" in inspect.getsource(token_cells)
    assert "Scan ExistingRDD" in plan("bm25_search")
    # the checkpointed signature appears as a scan of an existing RDD,
    # and the expensive explode+min aggregate appears at most once
    pf = plan("minhash_fidelity")
    assert "Scan ExistingRDD" in pf


def _unpartitioned_window_inputs(df) -> list[list[str]]:
    """The input columns of every Window with no partition key in
    ``df``'s optimized plan, one sorted name list per Window.  A Window
    over a limit (a rank over the survivors of a distributed top-k) reads
    at most that many rows and is not listed."""
    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if (
            node.nodeName() == "Window"
            and node.partitionSpec().isEmpty()
            and node.child().nodeName() != "GlobalLimit"
        ):
            cols = node.child().output()
            found.append(sorted(cols.apply(i).name() for i in range(cols.size())))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_text_statistics_keep_rows_partitioned(spark):
    """A window with no partition key moves every row it reads into one
    task.  None sits over the documents or the token cells: bm25/ql's
    collection stats and kl's corpus total are one-row aggregates
    broadcast back, and oov/burrows' top-k vocabulary ranks the k
    survivors of a distributed top-k over the distinct-token table.  A
    checkpointed table shows as a scan here, and a window over it would
    still show."""
    import __spark_entry__ as E

    for q in ("bm25_search", "ql_search", "kl_sources", "oov_rates",
              "burrows_delta"):
        df = E.queries()[q](spark, SF_DIR)
        assert _unpartitioned_window_inputs(df) == [], q


def test_r12_prefix_window_shapes(spark):
    """Plan contracts for the PPJoin window-prefix rank table
    (dedup.shingle_ranks): `row_number() over (partition by doc_id)`
    holds each doc's whole shingle set in ONE task — acceptable because
    a document's shingle count is O(doc length), the same order the
    in-row shingle array expressions elsewhere already hold per row.
    The window must read the SPREAD shingle table (never a 1-partition
    single-file scan).  The window and the spread's repartition are
    visible in the rank plan shingle_ranks checkpoints; the jaccard
    path reads the checkpointed table (Scan ExistingRDD), and so does
    the containment candidate stage."""
    import inspect

    from streamkit_spark.functions import dedup as D
    from streamkit_spark.functions.dedup import shingle_table

    # the shingle table spreads its input before the explode
    assert "_spread(" in inspect.getsource(shingle_table)
    docs = tables.load(spark, SF_DIR, "documents")
    pj = plans.explain_str(D._rank_plan(docs, "text", "doc_id", 3), "extended")
    assert "row_number" in pj
    assert "RoundRobinPartitioning" in pj
    pj = plans.explain_str(D.ngram_jaccard_pairs(docs, threshold=0.6), "extended")
    assert "Scan ExistingRDD" in pj
    assert "CartesianProduct" not in pj
    pc = plans.explain_str(
        D.containment_candidates(docs, threshold=0.6), "extended"
    )
    assert "Scan ExistingRDD" in pc
    assert "CartesianProduct" not in pc
    # containment positional filter: exact recall — every verified pair
    # must appear among the filtered candidates (the filter's recall
    # property is ALSO pinned shape-free by the hypothesis mirror in
    # test_twosample_properties.py)
    cand = D.containment_candidates(docs, threshold=0.6)
    verified = D.containment_pairs(docs, threshold=0.6).select("id_a", "id_b")
    assert verified.exceptAll(cand.select("id_a", "id_b")).count() == 0
