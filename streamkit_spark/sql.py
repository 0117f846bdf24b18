"""SQL surface: register the engine's tables and derived views so every
operator is reachable from ``spark.sql`` (the declared-query corpus in
__spark_entry__.py is the DataFrame twin of this surface).

The reference has no SQL; this is the engine's native query language on
top of the same semantics.  Views are logical plans and inherit all
pushdown.  Registering the curation, analytics, sketch and timeseries
views starts no Spark job.  The diagnostics registry starts only the jobs
of ``dg_source_dup_matrix``'s shingle rank table (``dedup.shingle_ranks``,
which builds eagerly), and only when it is given documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from streamkit_spark import tables
from streamkit_spark.operators.produce import Store
from streamkit_spark.operators.status import segment_status


def register_fixture_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All driver fixture tables as temp views (region, nation, ...,
    events, documents, embeddings)."""
    return tables.register_views(spark, sf_dir)


def register_store_views(
    spark: SparkSession, store: Store, prefix: str = ""
) -> None:
    """Engine-store views: the raw events plus the derived relations a
    streamkit client would query.

    * ``{p}events`` — the envelope table
    * ``{p}segment_status`` — A1 min/max aggregate per (space, segment)
    * ``{p}spaces`` / ``{p}segments`` — A2 inventory
    * ``{p}heads`` — W1 top-1 row per segment (Peek for every segment)
    """
    p = prefix
    ev = store.events()
    ev.createOrReplaceTempView(f"{p}events")
    segment_status(ev).createOrReplaceTempView(f"{p}segment_status")
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW {p}spaces AS "
        f"SELECT DISTINCT space FROM {p}events"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW {p}segments AS "
        f"SELECT DISTINCT space, segment FROM {p}events"
    )
    spark.sql(
        f"""
        CREATE OR REPLACE TEMP VIEW {p}heads AS
        SELECT space, segment, entry.* FROM (
            SELECT space, segment,
                   max_by(struct(sequence, ts, payload, metadata,
                                 trx_id, trx_node, trx_number),
                          sequence) AS entry
            FROM {p}events GROUP BY space, segment)
        """
    )


def register_curation_views(
    spark: SparkSession, docs: DataFrame, prefix: str = "doc_"
) -> list[str]:
    """LLM-curation operator surface as SQL views over a document relation
    (SURVEY §7: every operator reachable from ``spark.sql``).  Views are
    logical plans — nothing materializes until queried, and pushdown
    applies through them.

    * ``{p}stats`` — token/char/quality/lang columns per doc
    * ``{p}repetition`` — Gopher repetition metrics per doc
    * ``{p}fingerprints`` — md5 content fingerprint per doc
    * ``{p}quality`` — pass/fail quality-rule columns per doc
    """
    from streamkit_spark.functions import text as TX
    from streamkit_spark.functions.curation import quality_rules

    p = prefix
    views = {
        f"{p}stats": TX.text_stats(docs),
        f"{p}repetition": TX.repetition_stats(docs),
        f"{p}fingerprints": docs.select(
            "doc_id", TX.fingerprint("text").alias("fp")
        ),
        f"{p}quality": quality_rules(docs),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)


def register_analytics_views(
    spark: SparkSession, events: DataFrame, prefix: str = "an_"
) -> list[str]:
    """Event-analytics views over a (normalized) events frame — the SQL
    twin of functions/analytics for spark.sql users:

    * ``{p}transitions`` — per-user event-type Markov transition counts
    * ``{p}cohorts``     — first-day cohorts × 7-day retention buckets
    * ``{p}histogram``   — fixed-width value histogram per event type
    * ``{p}outliers``    — Tukey-fence outlier report per event type
    * ``{p}quantiles``   — exact percentiles + sketch-accuracy contract

    Views are logical plans (no materialization); each inherits the
    underlying scan's pushdown."""
    from pyspark.sql import functions as F

    from streamkit_spark.functions import analytics as A

    evd = events.select(
        "user_id", "event_type", "value", "ts", "event_id",
        F.expr("ts div 1000000").alias("ts_ms"),
    )
    p = prefix
    views = {
        f"{p}transitions": A.event_transitions(evd),
        f"{p}cohorts": A.retention_cohorts(evd, "user_id", "ts_ms"),
        f"{p}histogram": A.value_histogram(evd),
        f"{p}outliers": A.iqr_outliers(evd),
        f"{p}quantiles": A.quantile_report(evd),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)


def register_sketch_views(
    spark: SparkSession, events: DataFrame, prefix: str = "sk_"
) -> list[str]:
    """Sketch-estimator views over a (normalized) events frame — the SQL
    twin of functions/sketch for spark.sql users:

    * ``{p}distinct_users``  — per-event-type deterministic HLL distinct
      (estimate + exact + relative error)
    * ``{p}daily_registers`` — the day-partitioned HLL register cube
      (persist/query it for date-range cardinality via max-merge)
    * ``{p}user_overlap``    — pairwise KMV Jaccard/union/intersection
      of (user, day) activity sets between event types
    * ``{p}user_counts``     — count-min frequency estimates vs exact
      per-user event counts

    These are REPORT views, heavier than the analytics/curation ones:
    ``{p}distinct_users`` includes the exact-count audit columns (it
    pays the distinct the pure estimator avoids — use
    ``sketch.hll_distinct(include_exact=False)`` for the cheap path),
    and ``{p}user_overlap`` builds its ≤ G·k-row sketch per query.
    Registration starts no Spark job."""
    from pyspark.sql import functions as F

    from streamkit_spark.functions import sketch as S

    p = prefix
    uday = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.expr("(ts div 1000000) div 86400000").cast("string"),
    )
    cms = S.cms_build(events, "user_id")
    # cms_lookup preserves the probe column's original (long) type
    est = S.cms_lookup(cms, events, "user_id")
    exact = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    views = {
        f"{p}distinct_users": S.hll_distinct(
            events, "user_id", ["event_type"], include_exact=True
        ),
        f"{p}daily_registers": S.hll_daily_registers(
            events, "user_id", F.expr("ts div 1000000"), ["event_type"]
        ),
        f"{p}user_overlap": S.kmv_overlap(
            events.select("event_type", uday.alias("uday")),
            "uday",
            "event_type",
        ),
        f"{p}user_counts": exact.join(est, "user_id"),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)


def register_diagnostics_views(
    spark: SparkSession,
    events: DataFrame,
    documents: DataFrame | None = None,
    prefix: str = "dg_",
) -> list[str]:
    """Distributional-diagnostics views — the SQL twin of the round-5
    robust-statistics block for spark.sql users:

    * ``{p}value_trend``   — per-type OLS slope/intercept/r2 of value
      over the day index
    * ``{p}mad_outliers``  — exact-median MAD robust outlier report
    * ``{p}chi2_weekday``  — chi-squared independence of type × weekday
    * ``{p}cusum``         — CUSUM changepoint day per type
    * ``{p}benford``       — first-digit audit of event values
    * ``{p}quantile_sketch`` — mergeable histogram-quantile report
    * ``{p}effect_sizes``  — Cliff's delta of each type vs complement
    * ``{p}shape_drift``   — Anderson-Darling A² of each type vs
      complement (tail-weighted shape drift; KS lives in the rank-stat
      streaming family)
    * ``{p}cvm_drift``     — Cramér-von Mises W² (integral shape drift)
    * ``{p}theil``         — Theil T inequality per type
    * ``{p}cramers_weekday`` — chi2 + Cramér's V of type × weekday
    * ``{p}mi_weekday``    — mutual information / NMI of type × weekday
    * ``{p}weekday_outliers`` — seasonality-corrected daily anomalies
    * ``{p}jt_trend``      — Jonckheere-Terpstra monotone-trend z of
      value across the four quarters of the day
    * with ``documents``: ``{p}zipf`` (3-gram shingle spectrum fit),
      ``{p}heaps`` (vocabulary-growth fit), ``{p}collocations``
      (Dunning LLR token pairs), ``{p}gate_kappa`` (chance-corrected
      classifier-vs-rule-gate agreement), ``{p}calibration``
      (classifier ECE/MCE against the rule gate), ``{p}vocab_coverage``
      (types needed per coverage percent), ``{p}classifier_ap``
      (step-interpolated average precision of the classifier vs the
      rule gate), ``{p}bootstrap_tokens``
      (Poisson-bootstrap 95% CI of mean tokens/doc per source), and
      ``{p}source_dup_matrix`` (cross-source near-dup pair counts)

    Each view inherits the underlying scan's pushdown.  Registration
    starts no Spark job without ``documents``; with them, only the jobs
    of ``{p}source_dup_matrix``'s shingle rank table (built eagerly by
    ``dedup.ngram_jaccard_pairs``).  The events frame must be normalized
    (``tables.load``)."""
    from pyspark.sql import functions as F

    from streamkit_spark.functions import analytics as A
    from streamkit_spark.functions import text as T

    p = prefix
    day = F.expr("ts div 86400000000000")
    wd = ((day + 4) % 7).cast("long")
    views = {
        f"{p}value_trend": A.ols_trend(
            events.select("event_type", day.alias("day"), "value"),
            "event_type", "day", "value",
        ),
        f"{p}mad_outliers": A.mad_outliers(events, "event_type", "value"),
        f"{p}chi2_weekday": A.chi2_independence(
            events.select("event_type", wd.alias("weekday")),
            "event_type", "weekday",
        ),
        f"{p}cusum": A.cusum_changepoint(
            events.select("event_type", day.alias("day"), "value"),
            "event_type", "day", "value",
        ),
        f"{p}benford": A.benford_profile(events, "value"),
        f"{p}quantile_sketch": A.histogram_quantiles(
            events, "event_type", "value"
        ),
        f"{p}effect_sizes": A.cliffs_delta_by_group(
            events, "event_type", "value"
        ),
        f"{p}shape_drift": A.ad_by_group(events, "event_type", "value"),
        f"{p}cvm_drift": A.cvm_by_group(events, "event_type", "value"),
        f"{p}theil": A.theil_by_group(events, "event_type", "value"),
        f"{p}cramers_weekday": A.cramers_v(
            events.select("event_type", wd.alias("weekday")),
            "event_type", "weekday",
        ),
        f"{p}mi_weekday": A.mutual_information(
            events.select("event_type", wd.alias("weekday")),
            "event_type", "weekday",
        ),
        f"{p}weekday_outliers": A.weekday_adjusted_outliers(
            events.select("event_type", day.alias("day"), "value"),
            "event_type", "day", "value",
        ),
        f"{p}jt_trend": A.jt_trend_by_group(
            events.select(
                F.expr("(((ts div 1000000) div 3600000) % 24) div 6")
                .alias("dayq"),
                "value",
            ),
            "dayq",
            "value",
            [0, 1, 2, 3],
        ),
    }
    if documents is not None:
        token_count_col = T.token_count("text").cast("long").alias("ntok")
        counts = (
            documents.select(
                F.explode(T.word_ngrams(F.col("text"), 3)).alias("tok")
            )
            .groupBy("tok")
            .agg(F.count("*").cast("long").alias("freq"))
        )
        views[f"{p}zipf"] = T.zipf_fit(counts)
        views[f"{p}heaps"] = T.heaps_fit(documents)
        views[f"{p}collocations"] = T.llr_pairs(documents)
        from streamkit_spark.functions import curation as C

        # the ONE shared score ⋈ gate definition (classifier_gate_table)
        gated = C.classifier_gate_table(documents, bias=0.1)
        views[f"{p}gate_kappa"] = A.cohen_kappa(
            gated.select(
                (F.col("score") >= F.lit(0.1)).alias("clf_keep"), "passes"
            ),
            "clf_keep",
            "passes",
        )
        views[f"{p}calibration"] = A.expected_calibration_error(
            gated.select(
                (F.col("score") + F.lit(0.5)).alias("prob"), "passes"
            ),
            "prob",
            "passes",
        )
        views[f"{p}vocab_coverage"] = T.coverage_by_group(documents)
        views[f"{p}classifier_ap"] = A.average_precision_report(
            gated, "score", "passes"
        )
        views[f"{p}bootstrap_tokens"] = A.poisson_bootstrap_ci(
            documents.select(
                "doc_id",
                "source",
                token_count_col,
            ),
            "source",
            "ntok",
        )
        from streamkit_spark.functions import dedup as D

        # NOTE: no effective_tokens view — its duplicate_clusters step
        # runs eager driver-side work (edge count + union-find collect)
        # per registration; use curation.effective_token_report directly.
        # ngram_jaccard_pairs builds its shingle_ranks table with an
        # EAGER localCheckpoint, so this view starts jobs at registration
        views[f"{p}source_dup_matrix"] = D.pair_source_matrix(
            D.ngram_jaccard_pairs(documents, threshold=0.6),
            documents,
        )
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)


def register_timeseries_views(
    spark: SparkSession,
    events: DataFrame,
    documents: DataFrame | None = None,
    prefix: str = "tsr_",
) -> list[str]:
    """Time-series / distribution-pair diagnostics views — the SQL twin
    of the round-6 daily-series family for spark.sql users:

    * ``{p}seasonal`` — per-type weekly seasonal strength (phase-ANOVA
      eta² over daily value totals)
    * ``{p}acf``      — per-type lag-1..7 autocorrelation of the
      gap-filled daily series
    * ``{p}xcorr``    — pairwise cross-type daily correlation on the
      shared spine
    * ``{p}wilson``   — per-type high-value (value > 50) share with its
      Wilson score interval
    * with ``documents``: ``{p}jsd`` — pairwise Jensen-Shannon
      divergence between source unigram distributions

    Each view inherits the underlying scan's pushdown.  Registration
    starts no Spark job, with or without ``documents``.  The events frame
    must be normalized (``tables.load``)."""
    from pyspark.sql import functions as F

    from streamkit_spark.functions import analytics as A
    from streamkit_spark.functions import text as T

    p = prefix
    daily_in = events.select(
        "event_type", F.expr("ts div 86400000000000").alias("day"), "value"
    )
    views = {
        f"{p}seasonal": A.seasonal_strength(
            daily_in, "event_type", "day", "value"
        ),
        f"{p}acf": A.acf_by_group(daily_in, "event_type", "day", "value"),
        f"{p}xcorr": A.xcorr_daily(daily_in, "event_type", "day", "value"),
        f"{p}wilson": A.wilson_by_group(
            events.filter(F.col("value").isNotNull()).select(
                "event_type", (F.col("value") > F.lit(50)).alias("hi")
            ),
            "event_type",
            "hi",
        ),
    }
    if documents is not None:
        views[f"{p}jsd"] = T.jsd_by_group_pairs(documents, "source", "text")
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)
