"""The materialization rule of the analytics, text and sketch operators.

An operator in ``functions/analytics.py``, ``text.py`` or ``sketch.py``
returns one lazy plan: building it starts no Spark job, and where its
branches fan out of one derived table (a cell table, a daily series, a
bucket histogram) they read that table's shuffle exchange, which Spark
reuses, so the adaptive final plan after collect scans every input table
once.  Materializing is kept only for the data-dependent loop
(``event_pagerank``'s persisted transition matrix) and where it measured
faster (``EAGER`` below, each with its reason; its operator's docstring
says it builds eagerly).

Three ways a branch loses the shared exchange, all checked here: column
pruning (a ``count(*)`` or ``select(key).distinct()`` branch re-aggregates
the table without its value column), an inferred ``IS NOT NULL`` filter
(an outer join on a key the optimizer cannot prove non-null pushes the
filter into the scan) and a filter on a group key alone (pushed below the
aggregate).  The operators make every branch read the whole table.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, final_plan_scans

QUERIES = """
chi2_weekday cramers_weekday mi_weekday gate_kappa calibration_ece
calibration_brier score_calibration weekday_outliers mad_outliers
cusum_changepoint benford_value benford_values hist_quantiles cliffs_value
ad_value cvm_value ks_value ks_daily ranksum_value winsorized_value hill_tail
vocab_coverage acf_daily xcorr_daily jsd_sources kl_sources psi_daily
psi_drift robust_trend kmv_overlap bloom_prefilter log_odds_tokens
kendall_value_hour kendall_matrix interarrival event_assoc token_diversity
oov_rates burrows_delta bm25_search classifier_auc hybrid_search ql_search
source_ngram_overlap
""".split()

# Rescans that no operator here causes.  curation.classifier_gate_table
# spreads documents through a RoundRobin repartition; its rule and bigram
# branches share that exchange, but these consumers drop NULL scores, and
# that `isnotnull(score)` filter is pushed below the repartition of the
# score branch alone, so that branch scans documents a second time.
RESCANS = {
    q: {"documents": 2}
    for q in ("calibration_ece", "calibration_brier", "classifier_auc")
}

# Kept checkpoints: query -> the operator whose docstring says it builds
# eagerly.  Each was measured slower lazily (sf0.1, 5 interleaved reps,
# median with -> without): mi_weekday 0.67 -> 0.79 s, gate_kappa 2.49 -> 2.66,
# score_calibration 2.52 -> 2.99, winsorized_value 0.98 -> 1.05,
# kendall_matrix 1.81 -> 2.17, kl_sources 0.58 -> 0.64, jsd_sources
# 0.76 -> 0.92, oov_rates 0.60 -> 0.71, ql_search 0.58 -> 0.70,
# burrows_delta 1.06 -> 1.17.
EAGER = {
    "mi_weekday": "analytics.mi_from_cells",
    "gate_kappa": "analytics.kappa_from_cells",
    "score_calibration": "analytics.calibration_report",
    "winsorized_value": "analytics.winsorized_from_cells",
    "kendall_value_hour": "analytics.kendall_tau_binned",
    "kendall_matrix": "analytics.kendall_tau_binned",
    "kl_sources": "text.kl_from_cells",
    "jsd_sources": "text.jsd_from_cells",
    "oov_rates": "text.oov_from_cells",
    "burrows_delta": "text.burrows_from_cells",
    "bm25_search": "text.bm25_topk",
    "ql_search": "text.ql_topk",
    "hybrid_search": "text.bm25_topk",
}
# What an eager query's final plan still scans (the checkpoint hides the
# rest): hybrid_search's vector half reads embeddings twice, the corpus
# and its vec_id = 0 query row.
EAGER_SCANS = {"hybrid_search": {"embeddings": 2}}


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as E
    from streamkit_spark import tables

    for t in ("events", "documents", "embeddings", "orders", "customer"):
        tables.load(spark, SF_DIR, t)  # the first load infers the schema with a job
    return E.queries()


@pytest.mark.parametrize("name", QUERIES)
def test_builds_lazily_and_scans_each_input_once(spark, jobs_of, entry, name):
    built = []
    build_jobs = jobs_of(lambda: built.append(entry[name](spark, SF_DIR)))
    df = built[0]
    df.collect()
    scans = final_plan_scans(df)
    if name in EAGER:
        import importlib

        module, fn = EAGER[name].split(".")
        mod = importlib.import_module(f"streamkit_spark.functions.{module}")
        assert build_jobs > 0
        assert "Builds eagerly" in getattr(mod, fn).__doc__
        assert scans == EAGER_SCANS.get(name, {})
        return
    assert build_jobs == 0
    assert scans, "no FileScan in the final plan: something materialized"
    assert scans == (RESCANS.get(name) or {t: 1 for t in scans})
