"""SQL surface: store views answer the same queries as the DataFrame API."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamkit_spark.operators.produce import Store
from streamkit_spark.operators.status import segment_status
from streamkit_spark.sql import register_fixture_views, register_store_views


def test_store_views_match_dataframe_api(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    store.produce("s0", "g0", [(i, b"x", None) for i in range(1, 4)], now_ms=10)
    store.produce("s0", "g1", [(1, b"y", None)], now_ms=20)
    register_store_views(spark, store, prefix="sk_")

    via_sql = {
        (r["space"], r["segment"]): (r["first_sequence"], r["last_sequence"])
        for r in spark.sql("SELECT * FROM sk_segment_status").collect()
    }
    via_df = {
        (r["space"], r["segment"]): (r["first_sequence"], r["last_sequence"])
        for r in segment_status(store.events()).collect()
    }
    assert via_sql == via_df

    heads = {
        r["segment"]: r["sequence"]
        for r in spark.sql("SELECT segment, sequence FROM sk_heads").collect()
    }
    assert heads == {"g0": 3, "g1": 1}

    assert spark.sql("SELECT count(*) FROM sk_spaces").first()[0] == 1
    assert spark.sql("SELECT count(*) FROM sk_segments").first()[0] == 2

    # ad-hoc SQL over the envelope works (S1 in SQL form)
    rows = spark.sql(
        "SELECT sequence FROM sk_events WHERE space='s0' AND segment='g0' "
        "AND sequence BETWEEN 2 AND 3 ORDER BY sequence"
    ).collect()
    assert [r["sequence"] for r in rows] == [2, 3]


def test_segment_status_view_is_the_operator(spark, tmp_path):
    """The ``segment_status`` view and the operator are one aggregate: equal
    rows both ways, equal schema (names, types, nullability), equal order."""
    store = Store(spark, str(tmp_path / "store"))
    store.produce("s0", "g0", [(i, b"x", None) for i in range(1, 4)], now_ms=10)
    store.produce("s0", "g0", [(4, b"x", None)], now_ms=30)
    store.produce("s1", "é", [(1, b"y", None), (2, b"y", None)], now_ms=20)
    register_store_views(spark, store, prefix="sv_")

    view = spark.table("sv_segment_status")
    op = segment_status(store.events())
    assert view.schema == op.schema
    assert view.exceptAll(op).count() == 0
    assert op.exceptAll(view).count() == 0
    assert view.collect() == op.collect()
    assert [tuple(r)[:4] for r in op.collect()] == [
        ("s0", "g0", 1, 10), ("s1", "é", 1, 20)
    ]


def test_fixture_views_register(spark):
    from tests.conftest import SF_DIR

    register_fixture_views(spark, SF_DIR)
    n = spark.sql("SELECT count(*) FROM lineitem").first()[0]
    assert n > 0
    joined = spark.sql(
        """
        SELECT r_name, count(*) AS n FROM nation
        JOIN region ON n_regionkey = r_regionkey GROUP BY 1 ORDER BY 1
        """
    ).collect()
    assert len(joined) == 5


def test_curation_views_queryable_from_sql(spark):
    from streamkit_spark import tables
    from streamkit_spark.sql import register_curation_views
    from tests.conftest import SF_DIR

    docs = tables.load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 100)
    names = register_curation_views(spark, docs)
    assert names == [
        "doc_fingerprints", "doc_quality", "doc_repetition", "doc_stats",
    ]
    # joins across the op views work and agree on cardinality
    row = spark.sql(
        """
        SELECT count(*) AS n,
               count(DISTINCT f.fp) AS n_fp,
               sum(CASE WHEN q.passes THEN 1 ELSE 0 END) AS n_pass
        FROM doc_stats s
        JOIN doc_fingerprints f USING (doc_id)
        JOIN doc_quality q USING (doc_id)
        JOIN doc_repetition r USING (doc_id)
        """
    ).first()
    assert row["n"] == 100 and 0 < row["n_pass"] <= 100
    # repetition metrics filterable in plain SQL
    loops = spark.sql(
        "SELECT count(*) AS n FROM doc_repetition WHERE dup_word_frac > 0.5"
    ).first()["n"]
    assert loops >= 0


def test_analytics_views_queryable_from_sql(spark):
    from streamkit_spark import tables
    from streamkit_spark.sql import register_analytics_views
    from tests.conftest import SF_DIR

    ev = tables.load(spark, SF_DIR, "events")
    names = register_analytics_views(spark, ev)
    assert names == [
        "an_cohorts", "an_histogram", "an_outliers", "an_quantiles",
        "an_transitions",
    ]
    # the views compose in plain SQL: transition mass per prev row sums
    # to ~1, the histogram covers every event, quantiles stay ordered
    row = spark.sql(
        """
        SELECT (SELECT round(sum(p), 0) FROM an_transitions
                WHERE prev_type = 'click') AS click_mass,
               (SELECT sum(n) FROM an_histogram) AS hist_rows,
               (SELECT count(*) FROM an_quantiles
                WHERE p50 <= p90 AND p90 <= p99) AS ordered_q
        """
    ).first()
    assert row["click_mass"] == 1.0
    assert row["hist_rows"] == ev.count()
    assert row["ordered_q"] == 5


def test_sketch_views_queryable_from_sql(spark):
    from streamkit_spark import tables
    from streamkit_spark.sql import register_sketch_views
    from tests.conftest import SF_DIR

    ev = tables.load(spark, SF_DIR, "events")
    names = register_sketch_views(spark, ev)
    assert names == [
        "sk_daily_registers", "sk_distinct_users", "sk_user_counts",
        "sk_user_overlap",
    ]
    row = spark.sql(
        """
        SELECT (SELECT count(*) FROM sk_distinct_users
                WHERE rel_err <= 0.2) AS tight_groups,
               (SELECT count(*) FROM sk_distinct_users) AS n_groups,
               (SELECT max(cnt) FROM (
                   SELECT day, event_type, count(*) AS cnt
                   FROM sk_daily_registers GROUP BY 1, 2)) AS max_regs,
               (SELECT count(*) FROM sk_user_counts
                WHERE cms_n < exact_n) AS underestimates,
               (SELECT count(*) FROM sk_user_overlap
                WHERE jaccard_est < 0 OR jaccard_est > 1) AS bad_jaccard
        """
    ).first()
    assert row["tight_groups"] == row["n_groups"] > 0
    assert row["max_regs"] <= 256
    assert row["underestimates"] == 0
    assert row["bad_jaccard"] == 0


def test_diagnostics_views_queryable_from_sql(spark):
    from streamkit_spark import tables
    from streamkit_spark.sql import register_diagnostics_views
    from tests.conftest import SF_DIR

    ev = tables.load(spark, SF_DIR, "events")
    docs = tables.load(spark, SF_DIR, "documents")
    names = register_diagnostics_views(spark, ev, docs)
    assert names == [
        "dg_benford", "dg_bootstrap_tokens", "dg_calibration",
        "dg_chi2_weekday", "dg_classifier_ap", "dg_collocations",
        "dg_cramers_weekday",
        "dg_cusum", "dg_cvm_drift", "dg_effect_sizes", "dg_gate_kappa",
        "dg_heaps", "dg_jt_trend", "dg_mad_outliers", "dg_mi_weekday",
        "dg_quantile_sketch", "dg_shape_drift", "dg_source_dup_matrix",
        "dg_theil", "dg_value_trend", "dg_vocab_coverage",
        "dg_weekday_outliers", "dg_zipf",
    ]
    row = spark.sql(
        """
        SELECT (SELECT round(sum(share), 1) FROM dg_benford) AS share_mass,
               (SELECT kappa FROM dg_gate_kappa) AS kappa,
               (SELECT mce FROM dg_calibration) AS mce,
               (SELECT count(*) FROM dg_mad_outliers) AS mad_groups,
               (SELECT dof FROM dg_chi2_weekday) AS dof,
               (SELECT count(*) FROM dg_cusum
                WHERE n_days > 0) AS cusum_groups,
               (SELECT count(*) FROM dg_quantile_sketch
                WHERE p IN (50, 90, 99)) AS q_rows,
               (SELECT n_docs FROM dg_heaps) AS heaps_docs,
               (SELECT count(*) FROM dg_effect_sizes
                WHERE delta BETWEEN -1 AND 1) AS delta_rows,
               (SELECT count(*) FROM dg_theil
                WHERE theil >= 0) AS theil_rows,
               (SELECT v FROM dg_cramers_weekday) AS cramers,
               (SELECT nmi FROM dg_mi_weekday) AS nmi,
               (SELECT count(*) FROM dg_weekday_outliers) AS anomaly_days,
               (SELECT count(*) FROM dg_collocations
                WHERE llr >= 0) AS colloc_rows,
               (SELECT count(*) FROM dg_shape_drift
                WHERE a2 IS NOT NULL) AS ad_rows,
               (SELECT count(*) FROM dg_cvm_drift
                WHERE w2 >= 0) AS cvm_rows,
               (SELECT count(*) FROM dg_vocab_coverage
                WHERE pct IN (50, 90, 99)
                  AND tokens_needed <= vocab_size) AS cov_rows,
               (SELECT count(*) FROM dg_source_dup_matrix) AS dupm_rows,
               (SELECT count(*) FROM dg_source_dup_matrix
                WHERE group_a <= group_b AND n_pairs > 0) AS dupm_ok,
               (SELECT count(*) FROM dg_bootstrap_tokens
                WHERE ci_lo <= mean AND mean <= ci_hi
                  AND b_eff > 0) AS boot_ok,
               (SELECT count(*) FROM dg_bootstrap_tokens) AS boot_rows,
               (SELECT z FROM dg_jt_trend) AS jt_z,
               (SELECT n FROM dg_jt_trend) AS jt_n,
               (SELECT ap FROM dg_classifier_ap) AS ap,
               (SELECT n_pos + n_neg FROM dg_classifier_ap) AS ap_n
        """
    ).first()
    # Benford shares sum to 1 (all digits observed or not, shares are
    # fractions of observed rows); every type gets a MAD row and a
    # CUSUM row; the sketch reports 3 quantiles per type
    assert row["share_mass"] == 1.0
    n_types = ev.select("event_type").distinct().count()
    assert row["mad_groups"] == n_types
    assert row["cusum_groups"] == n_types
    assert row["q_rows"] == 3 * n_types
    assert row["dof"] >= 1
    assert row["heaps_docs"] > 0
    assert row["delta_rows"] == n_types
    assert row["theil_rows"] == n_types
    assert row["cramers"] is not None and 0 <= row["cramers"] <= 1
    assert row["nmi"] is not None and 0 <= row["nmi"] <= 1
    assert row["anomaly_days"] >= 0
    assert row["colloc_rows"] > 0
    assert row["ad_rows"] == n_types
    assert row["cvm_rows"] == n_types
    assert row["kappa"] is not None and -1 <= row["kappa"] <= 1
    assert row["mce"] is not None and 0 <= row["mce"] <= 1
    n_sources = docs.select("source").distinct().count()
    assert row["cov_rows"] == 3 * n_sources
    # every matrix row must satisfy the normalization + positivity
    # invariant (a bare >= 0 would be vacuous for any COUNT)
    assert row["dupm_ok"] == row["dupm_rows"]
    # every bootstrap row brackets its point estimate with live replicates
    assert row["boot_rows"] == n_sources
    assert row["boot_ok"] == row["boot_rows"]
    # JT runs over every non-null-value event; AP over every gated doc
    assert row["jt_n"] > 0 and row["jt_z"] is not None
    assert row["ap"] is not None and 0 <= row["ap"] <= 1
    assert row["ap_n"] == docs.count()


def test_timeseries_views_queryable_from_sql(spark):
    from streamkit_spark import tables
    from streamkit_spark.sql import register_timeseries_views
    from tests.conftest import SF_DIR

    ev = tables.load(spark, SF_DIR, "events")
    docs = tables.load(spark, SF_DIR, "documents")
    names = register_timeseries_views(spark, ev, docs)
    assert names == [
        "tsr_acf", "tsr_jsd", "tsr_seasonal", "tsr_wilson", "tsr_xcorr",
    ]
    row = spark.sql(
        """
        SELECT (SELECT count(*) FROM tsr_seasonal
                WHERE strength BETWEEN 0 AND 1) AS seasonal_groups,
               (SELECT count(*) FROM tsr_acf
                WHERE acf BETWEEN -1 AND 1) AS acf_rows,
               (SELECT count(*) FROM tsr_xcorr
                WHERE corr BETWEEN -1 AND 1) AS xcorr_pairs,
               (SELECT count(*) FROM tsr_wilson
                WHERE lo <= rate AND rate <= hi) AS wilson_ok,
               (SELECT max(jsd) FROM tsr_jsd) AS max_jsd
        """
    ).first()
    n_types = ev.select("event_type").distinct().count()
    n_sources = docs.select("source").distinct().count()
    assert row["seasonal_groups"] == n_types
    assert row["acf_rows"] == 7 * n_types
    assert row["xcorr_pairs"] == n_types * (n_types - 1) // 2
    assert row["wilson_ok"] == n_types
    assert 0.0 <= row["max_jsd"] <= 0.6931471805599453 + 1e-9


def test_view_registries_start_only_the_documented_jobs(spark, jobs_of):
    """Registering views builds logical plans only, except where a view's
    operator documents that it builds eagerly.  The curation, analytics,
    sketch and timeseries registries start zero Spark jobs, with or
    without documents.  The diagnostics registry starts none without
    documents; with them, only the jobs of the ``dedup.shingle_ranks``
    table behind ``dg_source_dup_matrix``."""
    from streamkit_spark import tables
    from streamkit_spark.functions import dedup as D
    from streamkit_spark.sql import (
        register_analytics_views,
        register_curation_views,
        register_diagnostics_views,
        register_sketch_views,
        register_timeseries_views,
    )
    from tests.conftest import SF_DIR

    docs = tables.load(spark, SF_DIR, "documents")
    ev = tables.load(spark, SF_DIR, "events")
    docs.count(), ev.count()  # settle any load-time probes
    for register, args in (
        (register_curation_views, (docs,)),
        (register_analytics_views, (ev,)),
        (register_sketch_views, (ev,)),
        (register_timeseries_views, (ev,)),
        (register_timeseries_views, (ev, docs)),
        (register_diagnostics_views, (ev,)),
    ):
        assert jobs_of(lambda: register(spark, *args)) == 0, register.__name__

    ranks = jobs_of(lambda: D.shingle_ranks(docs))
    assert ranks > 0
    assert jobs_of(lambda: register_diagnostics_views(spark, ev, docs)) == ranks


def test_jaccard_builds_eagerly_and_equals_from_ranks(spark, jobs_of):
    """``ngram_jaccard_pairs`` has one verify: it builds the
    shingle_ranks table with an EAGER localCheckpoint at plan
    construction and returns the rows of
    ``ngram_jaccard_pairs_from_ranks(shingle_ranks(...))``."""
    import inspect

    from streamkit_spark import tables
    from streamkit_spark.functions import dedup as D
    from tests.conftest import SF_DIR

    assert "verify" not in inspect.signature(D.ngram_jaccard_pairs).parameters
    docs = tables.load(spark, SF_DIR, "documents")
    docs.count()  # settle any load-time probes before counting jobs
    built = []
    assert jobs_of(
        lambda: built.append(D.ngram_jaccard_pairs(docs, threshold=0.6))
    ) > 0
    ranked = D.ngram_jaccard_pairs_from_ranks(D.shingle_ranks(docs), 0.6)
    assert built[0].count() > 0
    assert built[0].exceptAll(ranked).count() == 0
    assert ranked.exceptAll(built[0]).count() == 0
