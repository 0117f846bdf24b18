"""The materialization rule of the analytics, text, sketch and dedup
operators.

An operator in ``functions/analytics.py``, ``text.py``, ``sketch.py`` or
``dedup.py`` returns one lazy plan: building it starts no Spark job, and
its final plan after collect scans every input table once.  A finisher over a
derived table (a cell table, a daily series, a bucket histogram) is one
chain over it where its statistics are keyed by the table's own columns:
marginals are windows on the same rows, one aggregate collects what the
statistic needs, and the statistic folds in-row, so no branch re-reads
the table.  A corpus-wide scalar (a collection total, a top-k
vocabulary) is a small aggregate broadcast back, never a window with no
partition key over the table's rows (``test_scale_patterns`` pins that
for the text finishers).  Such branches read the table's shuffle
exchange, which Spark reuses.  Materializing is kept only for the
data-dependent loops (``event_pagerank``'s persisted transition matrix,
``duplicate_clusters``), for the dedup tables shared across detectors
(``shingle_ranks``, ``minhash_fidelity``'s signatures) and where the
lazy plan measured no faster (``EAGER`` below; its operator's docstring
says it builds eagerly); a source-level pin holds every other operator
to the rule.  A pair-table finisher fans each pair out in-row and runs
one aggregate.

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
source_ngram_overlap memorization_risk
""".split()

# Rescans that no operator here causes.  curation.classifier_gate_table
# spreads documents through a RoundRobin repartition; its rule and bigram
# branches share that exchange, but these consumers drop NULL scores, and
# that `isnotnull(score)` filter is pushed below the repartition of the
# score branch alone, so that branch scans documents a second time.
GATE_CONSUMERS = (
    "calibration_ece", "calibration_brier", "classifier_auc", "gate_kappa",
    "score_calibration",
)
RESCANS = {q: {"documents": 2} for q in GATE_CONSUMERS}

# Kept checkpoints: query -> the operator whose docstring says it builds
# eagerly.  Each needs a corpus-wide table beside every row (a global
# top-k vocabulary beside every cell, collection stats beside every
# document); lazily, each branch re-runs the table's final merge (the
# plan is quoted at the checkpoint).  Measured at sf0.1, interleaved
# reps, median with -> without: oov_rates 0.192 -> 0.209 s and
# burrows_delta 0.316 -> 0.355 s (the lazy plan won 1 of 10 on each);
# bm25_search, ql_search and hybrid_search no faster (the lazy plan won
# 22, 19 and 17 of 40).
EAGER = {
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

# The modules under the rule, and the operators in them allowed to
# materialize: the EAGER ones (bm25_topk's and ql_topk's checkpoint sits
# in their shared _term_doc_stats); event_pagerank, whose power
# iteration re-reads its transition matrix every round; and in dedup
# the rank table every exact detector shares, minhash_fidelity's
# signature table (three references) and duplicate_clusters' collect
# and label-propagation loop.
MODULES = ("analytics", "text", "sketch", "dedup")
MATERIALIZING = {
    "event_pagerank",
    "_term_doc_stats",
    "shingle_ranks",
    "minhash_fidelity",
    "duplicate_clusters",
} | {op.split(".")[1] for op in EAGER.values()}


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


def test_only_declared_operators_materialize():
    """Every ``localCheckpoint(`` / ``persist(`` call in the modules under
    the rule sits in an operator allowed to materialize
    (``MATERIALIZING``), so a checkpoint cannot creep back into an
    operator outside the declared queries above."""
    import ast
    import importlib
    import inspect

    found = {}
    for module in MODULES:
        mod = importlib.import_module(f"streamkit_spark.functions.{module}")
        tree = ast.parse(inspect.getsource(mod))
        for top in tree.body:  # a top-level def, class or statement
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "persist")
                ):
                    name = getattr(top, "name", "<module>")
                    found.setdefault(name, []).append(f"{module}:{node.lineno}")
    assert set(found) <= MATERIALIZING, found


def test_dedup_finishers_build_only_the_rank_table(spark, jobs_of, entry):
    """The overlap operator and the threshold sweep start no more jobs at
    build than exact Jaccard, whose only build jobs are the eager
    ``shingle_ranks`` table: the pair pass and the sweep's chain stay
    lazy."""
    jobs = {
        name: jobs_of(lambda name=name: entry[name](spark, SF_DIR))
        for name in ("dedup_ngram_jaccard", "dedup_overlap", "dedup_sweep")
    }
    assert jobs["dedup_ngram_jaccard"] > 0, jobs
    assert jobs["dedup_overlap"] <= jobs["dedup_ngram_jaccard"], jobs
    assert jobs["dedup_sweep"] <= jobs["dedup_ngram_jaccard"], jobs
