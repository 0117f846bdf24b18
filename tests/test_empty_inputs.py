"""Degenerate-input hardening: every round-3 operator must return an
empty (or well-defined) result on an empty frame — not crash.  At 100 TB
a filter chain can legitimately empty any intermediate table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame(
        [],
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )


@pytest.fixture(scope="module")
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def test_analytics_on_empty_events(spark, empty_events):
    from streamkit_spark.functions import analytics as A

    assert A.event_transitions(empty_events).count() == 0
    ev = empty_events.select("user_id", F.expr("ts").alias("ts_ms"))
    assert A.retention_cohorts(ev, "user_id", "ts_ms").count() == 0
    assert A.value_histogram(empty_events).count() == 0
    assert A.iqr_outliers(empty_events).count() == 0
    assert A.quantile_report(empty_events).count() == 0


def test_sketch_on_empty_sides(spark, empty_events):
    from streamkit_spark.functions import sketch as SK

    keys = spark.createDataFrame([], "k long")
    big = spark.createDataFrame([(1,), (2,)], "k long")
    # empty key set → empty bloom → nothing passes (no false positives
    # from an empty filter)
    bloom = SK.bloom_build(keys, "k")
    assert SK.bloom_filter(big, "k", bloom).count() == 0
    row = SK.bloom_report(big, "k", keys, "k").first()
    assert (row["bloom_pass"], row["exact_pass"], row["false_pos"]) == (0, 0, 0)
    # empty big side
    row2 = SK.bloom_report(big.limit(0), "k", big, "k").first()
    assert row2["bloom_pass"] == 0 and row2["exact_pass"] == 0


def test_curation_ops_on_empty_docs(spark, empty_docs):
    from streamkit_spark.functions import curation as C

    assert C.assign_split(empty_docs).count() == 0
    assert C.cap_per_group(empty_docs, "source", k=5).count() == 0
    assert C.weighted_sample(empty_docs, "n_chars", k=5).count() == 0
    assert C.bigram_logprob(empty_docs).count() == 0


def test_text_ops_on_empty_docs(spark, empty_docs):
    from streamkit_spark.functions.text import pmi_pairs

    assert pmi_pairs(empty_docs).count() == 0


def test_similarity_ops_on_empty_vectors(spark, empty_vecs):
    from streamkit_spark.functions.similarity import (
        covariance_pairs,
        kmeans_assign,
        mean_vector,
    )

    means, n = mean_vector(empty_vecs)
    assert means == [] and n == 0
    assert covariance_pairs(empty_vecs, means=[], n=0).count() == 0
    # assignment under externally-supplied centroids still types correctly
    out = kmeans_assign(empty_vecs, [[1.0, 0.0], [0.0, 1.0]])
    assert out.count() == 0 and out.columns == ["vec_id", "cluster"]


def test_layout_on_empty_events(spark, empty_events):
    from streamkit_spark.functions.layout import cluster_by_zorder, zorder_stats

    ev = empty_events.select(
        "user_id", F.expr("ts").alias("day")
    )
    assert zorder_stats(ev, ["user_id", "day"]).count() == 0
    clustered = cluster_by_zorder(ev, ["user_id", "day"], num_partitions=4)
    assert clustered.count() == 0
    assert clustered.columns == ["user_id", "day"]


def test_sketches_on_empty_inputs(spark, empty_events):
    from streamkit_spark.functions.sketch import (
        cms_build,
        cms_lookup,
        hll_distinct,
        kmv_overlap,
    )

    assert hll_distinct(empty_events, "user_id").first()["hll_estimate"] == 0.0
    assert hll_distinct(empty_events, "user_id", ["event_type"]).count() == 0
    assert kmv_overlap(empty_events, "user_id", "event_type").count() == 0
    sk = cms_build(empty_events, "user_id")
    assert sk.count() == 0
    assert cms_lookup(sk, empty_events, "user_id").count() == 0


def test_hll_distinct_exact_on_empty_input(spark):
    """The exact count of an empty input is 0, so its relative error is
    NULL, not a division by zero (which ANSI mode raises)."""
    from streamkit_spark import tables
    from streamkit_spark.functions.sketch import hll_distinct
    from tests.conftest import SF_DIR

    none = tables.load(spark, SF_DIR, "events").filter("1=0")
    row = hll_distinct(none, "user_id", include_exact=True).first()
    assert (row["exact_distinct"], row["hll_estimate"], row["rel_err"]) == (
        0, 0.0, None
    )
    grouped = hll_distinct(none, "user_id", ["event_type"], include_exact=True)
    assert grouped.count() == 0


def test_graph_and_plan_ops_on_empty_inputs(spark, empty_docs, empty_events):
    from streamkit_spark.functions.curation import mixture_plan
    from streamkit_spark.functions.similarity import triangle_count
    from streamkit_spark.operators.windows import funnel_timing

    e = spark.createDataFrame([], "src long, dst long")
    r = triangle_count(e).first()
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        0, 0, 0, 0,
    )
    assert r["global_clustering"] == 0.0
    assert mixture_plan(empty_docs, {"src0": 1.0}, 1000).count() == 0
    ft = funnel_timing(
        empty_events, "click", "purchase", ts_ms=F.col("ts")
    ).first()
    assert (ft["n_start"], ft["n_converted"], ft["conv_rate"]) == (0, 0, 0.0)


def test_r8_ops_on_empty_inputs(spark, empty_docs, empty_events, empty_vecs):
    """Round-8 operators on empty frames: one NULL-stat row where the
    contract is a global report, zero rows where it is per-group/pair."""
    from streamkit_spark.functions import analytics as A
    from streamkit_spark.functions import text as T
    from streamkit_spark.functions.dedup import containment_pairs
    from streamkit_spark.functions.similarity import embedding_drift

    # global reports: ONE row of NULL statistics (kappa / ECE / Brier
    # covered in test_calibration_kappa) — per-group/pair ops: 0 rows
    assert A.hill_tail_by_group(empty_events, "event_type", "value").count() == 0
    ev = empty_events.select("user_id", F.expr("ts").alias("day"))
    assert A.user_novelty(ev, "user_id", "day").count() == 0
    assert T.kl_by_group(empty_docs).count() == 0
    assert T.rbo_pairs(empty_docs).count() == 0
    assert T.oov_by_group(empty_docs).count() == 0
    assert T.burrows_delta_pairs(empty_docs).count() == 0
    assert containment_pairs(empty_docs).count() == 0
    emb = empty_vecs.withColumn("label", F.lit(0))
    assert embedding_drift(emb).count() == 0


def test_empty_answers_collect_without_a_spark_job(spark, empty_events, tmp_path, jobs_of):
    """The empty answers of event_pagerank and of a fresh near-dup index's
    state tables are Arrow-backed frames: collecting them starts 0 jobs
    (``createDataFrame([], schema)`` starts one)."""
    from streamkit_spark.functions.analytics import event_pagerank
    from streamkit_spark.streaming.neardup import EmbeddingDupIndex, NearDupIndex

    text_index = NearDupIndex(spark, str(tmp_path / "text"))
    vec_index = EmbeddingDupIndex(spark, str(tmp_path / "vec"), dim=4)
    frames = {
        "event_pagerank": event_pagerank(empty_events),
        "neardup.sigs": text_index.sigs(),
        "neardup.band_rows": text_index.band_rows(),
        "embedding.vecs": vec_index.vecs(),
        "embedding.band_rows": vec_index.band_rows(),
    }
    for name, df in frames.items():
        rows = []
        assert jobs_of(lambda: rows.extend(df.collect())) == 0, name
        assert rows == [], name
    assert frames["event_pagerank"].columns == ["state", "rank"]
