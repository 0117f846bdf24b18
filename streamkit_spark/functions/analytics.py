"""Event-log analytics blocks: transition matrices, retention cohorts,
fixed-width histograms, order-statistic outlier flags, quantile reports.

These extend the reference's read surface (consume/peek/status,
internal/enumerate/enumerate.go) with the aggregate shapes a telemetry
or training-data pipeline runs over the same event stream.  All of them
are expressed as partitioned windows / two-level aggregates — no global
window, no driver loop — so the plan at 100 TB is the plan you see at
sf0.01: per-key exchanges only, map-side combined.

Float discipline: every statistic either derives from order statistics
(percentiles — deterministic under any partial-aggregation order) or is
rounded AFTER an exact integer/decimal aggregate, per the repo's
determinism rules (see the build notes in the repo root).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from streamkit_spark.functions.util import fresh_ids, sum_fold
from streamkit_spark.schema import local_frame

__all__ = [
    "event_transitions",
    "retention_cohorts",
    "value_histogram",
    "iqr_outliers",
    "quantile_report",
    "column_stats",
    "key_skew_report",
    "group_balance",
    "period_growth",
    "gap_filled_daily",
    "transition_matrix",
    "event_pagerank",
    "rank_buckets",
    "user_accumulation",
    "accumulate_first_days",
    "first_seen_days",
    "ewma_smooth",
    "spearman_by_group",
    "chi2_independence",
    "mad_outliers",
    "ols_trend",
    "cusum_changepoint",
    "cusum_from_daily",
    "benford_by_group",
    "benford_from_cells",
    "benford_profile",
    "ab_test_report",
    "frequent_sequences",
    "histogram_quantiles",
    "histogram_buckets",
    "quantiles_from_histogram",
    "association_rules",
    "rules_from_baskets",
    "psi_profile",
    "psi_from_histogram",
    "floor_bucket",
    "value_cells",
    "ranksum_by_group",
    "ranksum_from_cells",
    "ks_by_group",
    "ks_from_cells",
    "jt_trend_by_group",
    "jt_from_cells",
    "km_curve",
    "gini_by_group",
    "gini_from_cells",
    "winsorized_stats",
    "winsorized_from_cells",
    "cliffs_delta_by_group",
    "cliffs_from_cells",
    "ad_by_group",
    "ad_from_cells",
    "cvm_by_group",
    "cvm_from_cells",
    "cramers_v",
    "mutual_information",
    "mi_from_cells",
    "chi2_from_cells",
    "cramers_from_cells",
    "contingency_cells",
    "theil_by_group",
    "theil_from_cells",
    "weekday_adjusted_outliers",
    "weekday_outliers_from_daily",
    "kendall_tau_binned",
    "kendall_tau_exact",
    "seasonal_strength",
    "seasonal_from_daily",
    "acf_by_group",
    "acf_from_daily",
    "wilson_by_group",
    "xcorr_daily",
    "xcorr_from_daily",
    "daily_totals",
    "interarrival_stats",
    "interarrival_from_gaps",
    "robust_trend",
    "holt_smooth",
    "holt_from_daily",
    "calibration_report",
    "auc_report",
    "average_precision_report",
    "ap_from_cells",
    "finalize_ap",
    "cohen_kappa",
    "kappa_from_cells",
    "hill_tail_by_group",
    "hill_from_cells",
    "user_novelty",
    "calibration_cells",
    "expected_calibration_error",
    "ece_from_cells",
    "brier_decomposition",
    "brier_from_cells",
    "poisson_bootstrap_ci",
    "bootstrap_replicates",
    "bootstrap_ci_from_replicates",
    "conformal_threshold",
    "POISSON1_T24",
]


def event_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per key: (prev_type, next_type, n, p) with ``p`` the row-
    normalized transition probability (4dp).

    The lag window is PARTITIONED by ``key_col`` — each user's history
    sorts inside its own partition (no global sort), then a count
    aggregate with map-side combine.  ``p`` divides two exact counts, so
    it is deterministic."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    pairs = (
        df.select(
            key_col,
            F.lag(type_col).over(w).alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("p"),
    ).orderBy("prev_type", "next_type")


def retention_cohorts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_ms: Column | str = "ts_ms",
    bucket_days: int = 7,
) -> DataFrame:
    """Classic cohort retention: users grouped by their first-activity
    day, counted per ``bucket_days``-sized offset bucket —
    (cohort_day, offset_bucket, n_active).

    Group-and-enumerate, no self-join: per-user day sets are collected
    once (sorted array — users have bounded distinct DAYS, not events),
    the cohort is the array head, offsets expand in-row, and one count
    finishes.  The naive formulation joins the distinct-activity table
    against its own min-day aggregate, a second shuffle of it.
    Day and offset bucketing use INTEGER division throughout (no double
    quotient to truncate)."""
    ts_ms = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    day = ts_ms.cast("long").alias("__ms")
    per_user = (
        df.select(F.col(key_col).alias("k"), day)
        .select("k", F.expr("__ms div 86400000").alias("day"))
        .groupBy("k")
        .agg(F.array_sort(F.collect_set("day")).alias("days"))
    )
    return (
        per_user.select(
            F.expr("days[0]").alias("cohort_day"),
            F.explode(
                F.array_distinct(
                    F.expr(f"transform(days, d -> (d - days[0]) div {bucket_days})")
                )
            ).alias("offset_bucket"),
        )
        .groupBy("cohort_day", "offset_bucket")
        .agg(F.count("*").cast("long").alias("n_active"))
        .orderBy("cohort_day", "offset_bucket")
    )


def value_histogram(
    df: DataFrame,
    value_col: str = "value",
    group_col: str | None = "event_type",
    bucket_width: float = 50.0,
) -> DataFrame:
    """Fixed-width histogram of a numeric column, optionally per group:
    (group, bucket, lo, n).  Bucket ids are ``floor(value / width)`` —
    integer, so the aggregate is exact and engine-independent.

    One map-side-combined groupBy; bucket count is bounded by the value
    range, not the row count, so the result is always tiny."""
    bucket = F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long")
    keys = ([group_col] if group_col else []) + ["bucket"]
    return (
        df.select(*( [group_col] if group_col else [] ), bucket.alias("bucket"))
        .groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .select(
            *keys,
            F.round(F.col("bucket") * bucket_width, 4).alias("lo"),
            "n",
        )
        .orderBy(*keys)
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier report per group: (group, p25, p75, hi_fence,
    n_outliers, max_value).  Everything derives from ORDER STATISTICS
    (exact interpolated percentiles) — deterministic under any partition
    order, unlike mean/stddev fences whose double sums can flip at
    rounding boundaries (build notes).

    Plan: one exact-percentile aggregate per group (Spark sorts within
    the group's partial state — group-local, no global sort), broadcast
    the ≤|groups|-row fence table back onto the stream, one filtered
    count.  The detail scan is map-only after the fence broadcast.

    Cross-engine determinism: the percentiles are ROUNDED to 4dp before
    the fence arithmetic and the ``value > fence`` comparison.  Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` interpolate with a
    different float operation order (lo·(1−g)+hi·g vs lo+g·(hi−lo)), so
    the raw values can differ by an ulp; gating the integer
    ``n_outliers`` on the unrounded fence would let that ulp flip a
    count (the build-notes round-boundary class)."""
    fences = df.groupBy(group_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.25)"), 4).alias("p25"),
        F.round(F.expr(f"percentile({value_col}, 0.75)"), 4).alias("p75"),
    )
    fences = fences.select(
        group_col,
        "p25",
        "p75",
        F.round(
            F.col("p75") + F.lit(k) * (F.col("p75") - F.col("p25")), 4
        ).alias("hi_fence"),
    )
    return (
        df.join(F.broadcast(fences), group_col)
        .filter(F.col(value_col) > F.col("hi_fence"))
        .groupBy(group_col, "p25", "p75", "hi_fence")
        .agg(
            F.count("*").alias("n_outliers"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            group_col,
            "p25",
            "p75",
            "hi_fence",
            "n_outliers",
            F.round("max_value", 4).alias("max_value"),
        )
        .orderBy(group_col)
    )


def quantile_report(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
    rel_tol: float = 0.05,
    contract_max_q: float = 0.95,
) -> DataFrame:
    """Exact interpolated percentiles per group, plus a sketch-accuracy
    contract: ``approx_ok`` is true iff Spark's ``approx_percentile``
    (Greenwald–Khanna at ``accuracy``) lands within ``rel_tol`` of the
    exact value for every quantile ≤ ``contract_max_q``.  The EXACT
    columns hash-match any engine; the sketch is implementation-defined,
    so only its accuracy boolean is exposed (same pattern as the
    ``approx_distinct`` declared query).

    Tail quantiles above ``contract_max_q`` are reported but NOT part of
    the boolean: GK bounds RANK error (εn), not value error, and in a
    sparse tail the two order statistics bracketing q can sit arbitrarily
    far apart — at 200 rows/group the measured p99 value error reaches
    25% while p50/p90 stay under 2%.  A value-relative contract on the
    extreme tail would make the query's truth depend on the fixture's
    group sizes.

    At scale the exact percentile is the expensive one (full sort state
    per group); the contract documents that the sketch you would actually
    run at 100 TB stays within tolerance of it."""
    exact = [
        F.expr(f"percentile({value_col}, {q})").alias(f"__e{i}")
        for i, q in enumerate(quantiles)
    ]
    approx = [
        F.expr(f"approx_percentile({value_col}, {q}, {accuracy})").alias(f"__a{i}")
        for i, q in enumerate(quantiles)
    ]
    agg = df.groupBy(group_col).agg(*exact, *approx)
    ok = F.lit(True)
    for i, q in enumerate(quantiles):
        if q > contract_max_q:
            continue
        ok = ok & (
            F.abs(F.col(f"__a{i}") - F.col(f"__e{i}"))
            <= F.lit(rel_tol) * F.abs(F.col(f"__e{i}"))
        )
    out_cols = [group_col] + [
        F.round(F.col(f"__e{i}"), 4).alias(f"p{round(q * 100)}")
        for i, q in enumerate(quantiles)
    ]
    return agg.select(*out_cols, ok.alias("approx_ok")).orderBy(group_col)


def column_stats(
    df: DataFrame,
    cols: tuple[str, ...] = ("user_id", "value"),
) -> DataFrame:
    """ANALYZE-style statistics for numeric columns — one row per column:
    (col_name, ndv, null_count, min_value, max_value, p25, p50, p75).
    These are the inputs a cost-based optimizer (or a human sizing a
    join) wants: exact distinct counts, null fraction, range, quartile
    spread.

    Plan: ONE scan + one aggregate carrying every column's stats side by
    side (multiple exact count_distincts go through Spark's expand — at
    100 TB swap them for approx_count_distinct and the rest of the row
    stays exact), then an in-row ``stack`` unpivots to one row per
    column.  No joins, no second scan."""
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count_distinct(col).cast("long").alias(f"__{c}_ndv"),
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__{c}_nulls"),
            F.round(F.min(col).cast("double"), 4).alias(f"__{c}_min"),
            F.round(F.max(col).cast("double"), 4).alias(f"__{c}_max"),
            F.round(F.expr(f"percentile({c}, 0.25)"), 4).alias(f"__{c}_p25"),
            F.round(F.expr(f"percentile({c}, 0.5)"), 4).alias(f"__{c}_p50"),
            F.round(F.expr(f"percentile({c}, 0.75)"), 4).alias(f"__{c}_p75"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __{c}_ndv, __{c}_nulls, __{c}_min, __{c}_max, "
        f"__{c}_p25, __{c}_p50, __{c}_p75"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, ndv, null_count, min_value, max_value, p25, p50, p75)"
        )
    ).orderBy("col_name")


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Join-key skew audit — the number you need BEFORE deciding between
    a plain shuffle join, AQE skew splitting, or `operators/skew`'s
    salting: the ``top_n`` heaviest keys with their row share and the
    key's frequency ratio over the mean (``skew_x``; a key at 50× mean
    will dominate its shuffle partition).

    Two tiny aggregates: per-key counts (map-side combined), then a
    one-row total joined back as a broadcast scalar.  Output is
    ``top_n`` rows whatever the key cardinality."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("key").cast("string").alias("key"),
            "n",
            F.round(F.col("n") / F.col("total"), 4).alias("share"),
            F.round(
                F.col("n") * F.col("n_keys") / F.col("total"), 2
            ).alias("skew_x"),
        )
        .orderBy(F.desc("n"), "key")
        .limit(top_n)
    )


def group_balance(
    df: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Concentration audit of a grouping column (is one crawl domain
    dominating the mix?): one row — n_groups, total, top1_share,
    top5_share, and the Gini coefficient of the per-group counts
    (0 = perfectly even, →1 = one group holds everything);
    ``G = Σ_i (2i − n − 1)·x_i / (n·Σx)`` over counts sorted ascending.

    The per-group count table is small by construction (groups, not
    rows), so the rank window and the final fold cost nothing; the only
    corpus-sized work is the first map-side-combined count."""
    counts = df.groupBy(group_col).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").asc(), F.col(group_col))
    ranked = counts.select(F.col("n"), F.row_number().over(w).alias("i"))
    tot = ranked.agg(
        F.count("*").alias("ng"), F.sum("n").alias("tt")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("ng").alias("n_groups"),
            F.max("tt").cast("long").alias("total"),
            F.round(F.max("n") / F.max("tt"), 4).alias("top1_share"),
            F.round(
                F.sum(
                    F.when(F.col("i") > F.col("ng") - 5, F.col("n")).otherwise(0)
                )
                / F.max("tt"),
                4,
            ).alias("top5_share"),
            F.round(
                F.sum(
                    (F.lit(2) * F.col("i") - F.col("ng") - 1) * F.col("n")
                )
                / (F.max("ng") * F.max("tt")),
                4,
            ).alias("gini"),
        )
    )


def period_growth(
    df: DataFrame,
    group_col: str = "event_type",
    ts_ms: Column | str = "ts_ms",
    period_days: int = 7,
) -> DataFrame:
    """Period-over-period trend per group: (group, period, n, growth)
    with ``growth = n/prev_n − 1`` (4dp, null for each group's first
    period).  Integer period bucketing (epoch-days div period) and a lag
    window over the AGGREGATED table — the window's input is
    groups × periods rows, never the raw stream, so the only
    corpus-sized work is the first map-side-combined count."""
    ts_ms = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    base = df.select(
        F.col(group_col).alias("g"), ts_ms.cast("long").alias("__ms")
    ).select("g", F.expr(f"(__ms div 86400000) div {period_days}").alias("period"))
    counts = base.groupBy("g", "period").agg(F.count("*").alias("n"))
    w = Window.partitionBy("g").orderBy("period")
    return (
        counts.select(
            F.col("g").alias(group_col),
            "period",
            "n",
            F.round(
                F.col("n") / F.lag("n").over(w) - 1, 4
            ).alias("growth"),
        )
        .orderBy(group_col, "period")
    )


def gap_filled_daily(
    df: DataFrame,
    group_col: str = "event_type",
    ts_ms: Column | str = "ts_ms",
    fill: str = "zero",
) -> DataFrame:
    """Daily counts per group with MISSING DAYS MATERIALIZED — the
    gap-filling primitive dashboards and trend models need (a day with no
    events must be a 0/carried row, not an absent one).

    Plan shape: the only corpus-sized work is one map-side-combined
    (group, day) count — the raw stream is scanned EXACTLY once.  Global
    day bounds come from a partition-less window over that tiny
    aggregate (groups × observed days — dashboard-sized, so the
    single-partition window is free), each group folds its days into a
    map, and the spine is ``explode(sequence(d0, d1))`` per group with a
    map lookup — a single linear pipeline, no joins, no second scan.

    ``fill="zero"`` emits n=0 for gap days; ``fill="ffill"`` carries the
    last observed count forward (first days before any observation stay
    0).  ``observed`` marks real vs filled rows either way."""
    if fill not in ("zero", "ffill"):
        raise ValueError(f"unknown fill: {fill!r}")
    ts_ms = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    base = df.select(
        F.col(group_col).alias("grp"), ts_ms.cast("long").alias("__ms")
    ).select("grp", F.expr("__ms div 86400000").alias("day"))
    counts = base.groupBy("grp", "day").agg(F.count("*").alias("val"))
    out = _global_span_spine(counts, F.lit(0)).select(
        "grp", "day", F.col("val").cast("long").alias("n_raw"), "observed"
    )
    if fill == "ffill":
        w = (
            Window.partitionBy("grp")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        n = F.coalesce(F.last(F.when(F.col("observed"), F.col("n_raw")), True).over(w), F.lit(0))
    else:
        n = F.col("n_raw")
    return out.select(
        F.col("grp").alias(group_col),
        "day",
        n.cast("long").alias("n"),
        "observed",
    ).orderBy(group_col, "day")


def _global_span_spine(per_day: DataFrame, fill_zero: Column) -> DataFrame:
    """One row per (grp, day) over the GLOBAL [min, max] day span of a
    tiny ``(grp, day, val)`` aggregate, missing days coalesced to
    ``fill_zero`` and flagged ``observed = False`` — the gap-fill
    machinery shared by :func:`gap_filled_daily` and
    :func:`acf_by_group`.  Global bounds come from a partition-less
    window OVER THE AGGREGATE ONLY, each group folds its days into a
    map, and the spine is one ``explode(sequence)`` with a map lookup —
    a single linear pipeline, no joins, no second scan."""
    wg = Window.partitionBy()
    per_g = (
        per_day.withColumn("d0", F.min("day").over(wg))
        .withColumn("d1", F.max("day").over(wg))
        .groupBy("grp", "d0", "d1")
        .agg(
            F.map_from_arrays(
                F.collect_list("day"), F.collect_list("val")
            ).alias("m")
        )
    )
    lookup = F.element_at(F.col("m"), F.col("day"))
    return per_g.select(
        "grp", F.explode(F.sequence("d0", "d1")).alias("day"), "m"
    ).select(
        "grp",
        "day",
        F.coalesce(lookup, fill_zero).alias("val"),
        lookup.isNotNull().alias("observed"),
    )


def transition_matrix(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Unnormalized first-order transition counts (prev_type, next_type,
    n) — the raw-count twin of ``event_transitions`` (which rounds its
    probabilities for reporting).  Used by ``event_pagerank``, which
    needs exact counts to keep the float pipeline deterministic."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    return (
        df.filter(F.col(type_col).isNotNull())
        .select(
            key_col,
            F.lag(type_col).over(w).alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )


def event_pagerank(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    iters: int = 10,
    damping: float = 0.85,
    max_states: int = 10_000,
    max_edges: int = 2_000_000,
) -> DataFrame:
    """PageRank over the event-type transition graph: which states do
    user journeys concentrate in?  (The damped stationary distribution
    of the first-order Markov chain — teleportation makes it well-defined
    even with dangling states.)

    Scale split: the corpus-sized work is ONE distributed transition
    count (map-side combined, shuffles only (prev, next) pairs); the
    power iteration then runs on the k×k matrix where k = |event types|
    — a driver-bounded vocabulary artifact (same contract as the k×dim
    k-means centroids or the BPE vocab table), NOT per-key state.  Do
    not call this with an unbounded type vocabulary.

    Determinism: the matrix entries are exact long counts; each
    iteration folds ``pi[i] * (n_ij / out_i)`` in ascending state order
    with IEEE double ops, so the trajectory is bit-reproducible and a
    SQL oracle can replay it exactly (the repo's array-fold parity
    pattern).  Rounding happens once, on the final vector.

    ``max_states`` / ``max_edges`` are hard guards that fire BEFORE any
    large driver-side materialization: the distinct-state count and the
    edge count are both checked on the (persisted) aggregated transition
    table — executor-side, spill-safe — and only then is the edge list
    collected, bounded by ``limit(max_edges + 1)``.  Calling this with a
    high-cardinality column (URLs, user ids) is a usage error raised as
    ``ValueError``, not a driver OOM."""
    if max_states < 1:
        raise ValueError(f"max_states must be >= 1, got {max_states}")
    tm = transition_matrix(df, key_col, type_col, order_cols)
    tm.persist()
    try:
        n_types = (
            tm.select(
                F.explode(F.array("prev_type", "next_type")).alias("s")
            )
            .agg(F.count_distinct("s"))
            .first()[0]
        )
        if n_types > max_states:
            raise ValueError(
                f"{n_types} distinct states exceeds max_states="
                f"{max_states}; event_pagerank is for bounded type "
                f"vocabularies — pre-bucket '{type_col}' or raise "
                f"max_states explicitly"
            )
        edges = tm.limit(max_edges + 1).collect()
        if len(edges) > max_edges:
            raise ValueError(
                f"transition graph exceeds max_edges={max_edges}; "
                f"raise max_edges explicitly if the driver can hold it"
            )
    finally:
        tm.unpersist()
    states = sorted({r["prev_type"] for r in edges} | {r["next_type"] for r in edges})
    n_states = len(states)
    if not n_states:
        return local_frame(df.sparkSession, "state string, rank double", [])
    out_tot: dict[str, int] = {}
    for r in edges:
        out_tot[r["prev_type"]] = out_tot.get(r["prev_type"], 0) + r["n"]
    # incoming edge lists, each sorted by source state for the fold order
    incoming: dict[str, list[tuple[str, int]]] = {s: [] for s in states}
    for r in edges:
        incoming[r["next_type"]].append((r["prev_type"], r["n"]))
    for lst in incoming.values():
        lst.sort()
    dangling = [s for s in states if s not in out_tot]
    pi = {s: 1.0 / n_states for s in states}
    for _ in range(iters):
        dm = 0.0
        for s in dangling:  # ascending order fold
            dm = dm + pi[s]
        new = {}
        for j in states:
            acc = 0.0
            for i, n_ij in incoming[j]:
                acc = acc + pi[i] * (n_ij / out_tot[i])
            new[j] = (1.0 - damping) / n_states + damping * (acc + dm / n_states)
        pi = new
    spark = df.sparkSession
    rows = [(s, pi[s]) for s in states]
    # Round in Spark (HALF_UP), not Python round() (half-even): every
    # oracle mirror in the repo pairs F.round with DuckDB round, which
    # agree for positive doubles; Python's banker's rounding does not.
    return (
        spark.createDataFrame(rows, "state string, rank double")
        .select("state", F.round("rank", 4).alias("rank"))
        .orderBy("state")
    )


def rank_buckets(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    out_col: str = "bucket",
) -> DataFrame:
    """Exact rank-based bucket assignment (decile/percentile binning)
    WITHOUT a global sort: ``bucket(x) = (n_buckets * |{score < x}|) div
    N`` — pure integer math, so ties always share a bucket and the
    assignment is deterministic and oracle-replayable (interpolated
    quantile thresholds are not: the two engines associate the float
    interpolation differently and a threshold 1 ulp from an integer
    score flips a bucket).

    Plan: one map-side-combined count per DISTINCT score, a cumulative
    window over that (bounded by score cardinality, not corpus size),
    then an equi-join back on the score — AQE broadcasts the tiny
    bucket-map side.  ntile()/percent_rank() would move the whole corpus
    through one global sort; this never sorts the raw stream.

    Rows with NULL score keep a NULL bucket (left join).  The top bucket
    caps at ``n_buckets - 1``."""
    sc = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count("*").cast("long").alias("__c")
    ).where(F.col("__s").isNotNull())
    bmap = _score_buckets(sc, n_buckets, out_col).drop("__c")
    return df.join(
        bmap, df[score_col] == bmap["__s"], "left"
    ).drop("__s")


def _score_buckets(sc: DataFrame, n_buckets: int, out_col: str) -> DataFrame:
    """``sc``, a distinct-score count table ``(__s, __c, ...)``, with each
    score's rank bucket ``out_col`` = (n_buckets · rows below) div N,
    capped at ``n_buckets - 1`` — :func:`rank_buckets`' arithmetic, from
    a cumulative window over the distinct scores."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    wg = Window.partitionBy()  # global scalars over the tiny distinct table
    bucket = F.least(
        F.expr(f"({n_buckets} * __cb) div __n"), F.lit(n_buckets - 1)
    ).cast("long")
    return sc.select(
        "*",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__cb"),
        F.sum("__c").over(wg).alias("__n"),
    ).select(
        *sc.columns,
        # every __c >= 1, so __n > 0 on every row: the when changes no
        # value, it keeps the bucket nullable, as rank_buckets'
        # left-joined bucket is, in calibration_report's schema
        F.when(F.col("__n") > 0, bucket).alias(out_col),
    )


def user_accumulation(
    df: DataFrame,
    key_col: str = "user_id",
    ts_ms: Column | str = "ts_ms",
) -> DataFrame:
    """Cumulative unique users per day: (day, new_users, cum_users).

    The scalable reformulation of "running COUNT(DISTINCT user)": a
    running distinct needs the full user set as window state (corpus-
    sized, unmergeable).  But a user enters the cumulative count exactly
    once — on their FIRST day — so: per-user min(day) (one map-side-
    combined aggregate), count users per first-day (tiny), cumulative
    sum over the day table (bounded by the calendar, not the corpus).
    Exact longs throughout."""
    return accumulate_first_days(first_seen_days(df, key_col, ts_ms))


def first_seen_days(
    df: DataFrame,
    key_col: str = "user_id",
    ts_ms: Column | str = "ts_ms",
) -> DataFrame:
    """Per-key first day: (k, first_day), with ``ts_ms`` epoch millis
    bucketed by integer ``div``.  On a streaming DataFrame this is the
    live sketch (a monotone min, so a latest-wins sink converges under
    replay; no watermark), its state one long per key, bounded by the
    key population; pass ``F.expr("ts div 1000000")`` for the epoch-ns
    envelope ``ts``."""
    ts_ms = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    return (
        df.select(F.col(key_col).alias("k"), ts_ms.cast("long").alias("__ms"))
        .select("k", F.expr("__ms div 86400000").alias("day"))
        .groupBy("k")
        .agg(F.min("day").alias("first_day"))
    )


def accumulate_first_days(first_seen: DataFrame) -> DataFrame:
    """Finisher of :func:`user_accumulation`: turn a (key, first_day)
    table — batch, or the sink of :func:`first_seen_days` run on a
    stream — into (day, new_users, cum_users).  Input is
    key-population-sized, the cumulative window runs over the
    calendar-sized per-day table."""
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.select(
            "day",
            "new_users",
            F.sum("new_users").over(w).cast("long").alias("cum_users"),
        )
        .orderBy("day")
    )


def ewma_smooth(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per group, ordered by
    ``order_col``: every input row comes back with ``out_col`` =
    ``s_t`` where ``s_1 = x_1`` and ``s_t = α·x_t + (1−α)·s_{t−1}``.

    Batch twin of the streaming EWMA control chart (streaming/anomaly);
    composes with :func:`gap_filled_daily` when gap days should pull the
    average down (feed the zero-filled series).

    Determinism: the smoothing is a LEFT FOLD over the group's
    order-sorted array with plain double ops — no ``pow`` (libm pow is
    not identically rounded across engines); DuckDB replays each prefix
    fold with ``list_reduce``.  ``α`` and ``1−α`` are both computed once
    here and embedded as literals on both engines.

    Cost shape: per-group O(n²) fold work — built for AGGREGATED series
    (days × groups, calendar-sized), not raw event streams; aggregate
    first, smooth second."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    beta = 1.0 - alpha
    a = df.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(F.struct(order_col, value_col))
        ).alias("__a")
    )
    fold = (
        "transform(__a, (x, i) -> struct("
        f"x.{order_col} AS {order_col}, x.{value_col} AS {value_col}, "
        f"aggregate(slice(__a, 2, i), CAST(__a[0].{value_col} AS DOUBLE), "
        f"(acc, e) -> {alpha!r}D * e.{value_col} + {beta!r}D * acc) "
        f"AS {out_col}))"
    )
    return (
        a.select(group_col, F.explode(F.expr(fold)).alias("r"))
        .select(
            group_col,
            F.col(f"r.{order_col}").alias(order_col),
            F.col(f"r.{value_col}").alias(value_col),
            F.round(F.col(f"r.{out_col}"), 4).alias(out_col),
        )
        .orderBy(group_col, order_col)
    )


def ab_test_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group two-sample Welch z statistic of ``value_col`` against the
    COMPLEMENT of the group (the standard always-on experiment readout:
    does this variant's mean differ from everyone else's?).

    Determinism contract: sums and sums-of-squares go through
    DECIMAL(18,2)/DECIMAL(38,4) — exact on both engines whatever the
    partial-aggregation order (the money convention; a plain double sum
    near a rounding boundary flips between runs).  The complement's
    moments are TOTAL − group (exact decimal subtraction, one extra
    1-row broadcast instead of a second scan); mean/variance/z are then
    computed in double from those exact components, identical op order
    on both engines.

    Output: (group, n, mean, n_rest, mean_rest, z) — n counts non-NULL
    values only (NULL observations would silently skew the moments); z is
    NULL when either side has < 2 observations or the pooled variance
    term is ≤ 0 (exact-decimal moments can still cancel to a tiny
    NEGATIVE double variance for near-constant groups — the guard runs
    BEFORE the sqrt, since Spark's NaN compares greater than 0 and
    DuckDB's sqrt raises on negatives).
    """
    g = F.col(group_col)
    v = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(g.alias("grp")).agg(
        F.count(value_col).cast("long").alias("n"),
        F.sum(v).alias("sv"),
        F.sum(v * v).alias("sq"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("sv").alias("tsv"), F.sum("sq").alias("tsq")
    )
    j = per.crossJoin(F.broadcast(tot))
    n, sv, sq = F.col("n"), F.col("sv").cast("double"), F.col("sq").cast("double")
    rsv = (F.col("tsv") - F.col("sv")).cast("double")
    rsq = (F.col("tsq") - F.col("sq")).cast("double")
    mean = sv / n
    mean_r = rsv / F.col("n_rest")
    var = (sq - sv * sv / n) / (n - 1)
    var_r = (rsq - rsv * rsv / F.col("n_rest")) / (F.col("n_rest") - 1)
    var_sum = var / n + var_r / F.col("n_rest")
    z = F.when(
        (n >= 2) & (F.col("n_rest") >= 2) & (var_sum > 0),
        (mean - mean_r) / F.sqrt(var_sum),
    )
    return (
        j.withColumn("n_rest", F.col("tn") - n)
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.round(mean, round_digits).alias("mean"),
            "n_rest",
            F.round(mean_r, round_digits).alias("mean_rest"),
            F.round(z, round_digits).alias("z"),
        )
        .orderBy(group_col)
    )


def frequent_sequences(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k most frequent length-``n`` event-type sequences across keys
    (sequence mining's counting core — the n-gram generalization of
    :func:`event_transitions`): (sequence, n_occurrences, n_keys).

    Per-key histories collect ONCE into an order-sorted array (bounded by
    a user's event count, the same contract as retention_cohorts' day
    sets), n-grams expand in-row, then one count with map-side combine.
    Ranking is (count desc, sequence asc) — total order, reproducible.
    ``k`` bounds the result; the count table itself is bounded by the
    distinct-sequence vocabulary, not the event count."""
    ordered = (
        df.groupBy(F.col(key_col).alias("k"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(*order_cols, type_col))
            ).alias("__o")
        )
        .select(
            "k",
            F.transform("__o", lambda x: x.getField(type_col)).alias("t"),
        )
    )
    grams = ordered.filter(F.size("t") >= n).select(
        "k",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (n - 1)),
                lambda i: F.concat_ws(">", F.slice(F.col("t"), i, n)),
            )
        ).alias("sequence"),
    )
    return (
        grams.groupBy("sequence")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("k").cast("long").alias("n_keys"),
        )
        .orderBy(F.col("n_occurrences").desc(), "sequence")
        .limit(k)
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Spearman rank correlation of two columns — the robust
    (monotone-invariant) complement to ``F.corr``'s Pearson: does y tend
    to increase with x at all, outliers be damned?

    Determinism contract: ties get the standard fractional (average)
    rank, carried as the DOUBLED rank ``2·rank + ties − 1`` so every
    rank is an exact integer; the five Pearson moments over those
    integer ranks aggregate exactly (BIGINT partials — the largest,
    Σ(2r)², is ≤ 4n³, safe to n ≈ 1.3M rows/group), and the final
    combination n·Σxy − Σx·Σy runs in DECIMAL(38,0) (HUGEINT on the
    oracle side) because it exceeds int64 beyond n ≈ 60k.  Only the
    last divide/sqrt is floating point, identical op order on both
    engines.  rho is NULL when either rank variance is 0 (a constant
    column has no ordering to correlate).

    Scale: two rank windows partitioned by group (one exchange on the
    group key — skewed groups are a repartition-by-(group, range)
    problem upstream, same as any windowed rank), then a plain
    map-side-combined aggregate.  No collect, no self-join.
    """
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    ranked = base.select(
        "grp",
        (
            2 * F.rank().over(Window.partitionBy("grp").orderBy("x"))
            + F.count("*").over(Window.partitionBy("grp", "x"))
            - 1
        ).cast("long").alias("rx"),
        (
            2 * F.rank().over(Window.partitionBy("grp").orderBy("y"))
            + F.count("*").over(Window.partitionBy("grp", "y"))
            - 1
        ).cast("long").alias("ry"),
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
    )
    n_d = F.col("n").cast(dec)
    num = n_d * F.col("sxy").cast(dec) - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    dx = n_d * F.col("sxx").cast(dec) - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    dy = n_d * F.col("syy").cast(dec) - F.col("sy").cast(dec) * F.col("sy").cast(dec)
    rho = F.when(
        (dx > 0) & (dy > 0),
        num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double")),
    )
    return (
        agg.select(
            F.col("grp").alias(group_col),
            "n",
            F.round(rho, round_digits).alias("spearman_rho"),
        )
        .orderBy(group_col)
    )


def chi2_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns: one row ``(n, n_rows, n_cols, dof, chi2)``.  The classic
    A/B readout for categorical outcomes (does conversion depend on
    variant?), complementing :func:`ab_test_report`'s Welch z on means.

    Determinism contract: observed counts and marginals are exact
    BIGINTs; each cell's (o−e)²/e term is computed in double with ONE
    fixed expression shape, and the cross-cell sums — the only
    order-sensitive float reductions — run as left folds over the
    (row, col)-sorted cell list (the repo's array_sort+aggregate
    pattern; the oracle's ``list_sum(list(... ORDER BY))`` replays them
    bit-for-bit).  This is the FULL-table Pearson statistic: structural
    zeros (an (r, c) combination that never occurs) each contribute
    (0−e)²/e = e, folded in closed form as n − Σ_observed e since
    Σ_all e = n — no r×c grid is ever materialized.  No p-value: a chi2
    CDF needs the incomplete gamma, which neither engine exposes
    deterministically — report (chi2, dof) and let the caller look up
    the critical value.

    Scale: the fold state is the contingency table itself, bounded by
    |distinct rows|·|distinct cols| — this operator is for categorical
    columns (variants, types, buckets), not identifiers; the input scan
    is a single map-side-combined count.
    """
    return chi2_from_cells(
        contingency_cells(df, row_col, col_col), round_digits=round_digits
    )


def contingency_cells(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Shared (r, c, o) observed-count table for the categorical-
    association statistics (chi2 / Cramér's V / mutual information):
    null-filtered exact BIGINT counts.  Counts are MONOTONE and merge
    by ADDITION, so on a streaming DataFrame this aggregate is the live
    sketch for those statistics, its state one count per occupied
    (r, c) cell, bounded by the two category cardinalities — the
    value_cells discipline for the categorical family."""
    return (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .agg(F.count("*").cast("long").alias("o"))
    )


def chi2_from_cells(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Finisher half of :func:`chi2_independence` over a prebuilt
    (r, c, o) contingency table (the contingency streaming sketch)."""
    g = _contingency_row(cells)
    tnd = F.col("n").cast("double")

    def e(x: Column) -> Column:
        return x["rt"].cast("double") * x["ct"].cast("double") / tnd

    def t(x: Column) -> Column:
        od = x["o"].cast("double")
        return (od - e(x)) * (od - e(x)) / e(x)

    return g.select(
        "n",
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("long").alias("dof"),
        # NULL (not 0.0) on zero cells: the SQL mirror's list() over an
        # empty input is NULL, and the empty test has no statistic.
        # Structural-zero (r, c) combinations contribute (0−e)²/e = e
        # each, and Σ_all e = n exactly, so the full-table Pearson
        # statistic is Σ_observed t + (n − Σ_observed e) — computed
        # from observed cells only, no grid materialization.  (Caught
        # by the H₀/textbook property layer: the observed-cells-only
        # sum understated chi2 by exactly that mass — engine, oracle,
        # and the test reference had shared the omission.)
        F.when(
            F.col("n_cells") > 0,
            F.round(
                sum_fold("__cells", t) + (tnd - sum_fold("__cells", e)),
                round_digits,
            ),
        ).alias("chi2"),
    )


def _contingency_row(cells: DataFrame) -> DataFrame:
    """The one chain behind the contingency finishers (chi2, MI, kappa):
    each (r, c, o) cell carries its row and column marginals ``rt`` and
    ``ct`` from windows on the same rows, then one global aggregate
    collects the (r, c)-sorted cells as ``__cells``.  Beside it: ``n``
    (Σo, NULL on an empty table), ``n_cells``, ``__rows`` / ``__cols`` —
    the (r, rt) and (c, ct) marginals, sorted by category — and their
    sizes ``n_rows`` / ``n_cols``.  The finishers fold in-row; no branch
    re-reads the table.  Nothing here compares an r with a c, so chi2
    and MI accept raters of unrelated types."""
    marg = cells.select(
        "r",
        "c",
        "o",
        F.sum("o").over(Window.partitionBy("r")).cast("long").alias("rt"),
        F.sum("o").over(Window.partitionBy("c")).cast("long").alias("ct"),
    )
    g = marg.agg(
        F.sum("o").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
        F.array_sort(F.collect_list(F.struct("r", "c", "o", "rt", "ct"))).alias(
            "__cells"
        ),
    )

    def marginal(k: str, m: str) -> Column:
        return F.array_distinct(
            F.transform("__cells", lambda x: F.struct(x[k].alias(k), x[m].alias(m)))
        )

    # the cells are (r, c)-sorted, so the distinct (r, rt) run in r order
    return g.select(
        "*",
        marginal("r", "rt").alias("__rows"),
        F.array_sort(marginal("c", "ct")).alias("__cols"),
    ).select(
        "*",
        F.size("__rows").cast("long").alias("n_rows"),
        F.size("__cols").cast("long").alias("n_cols"),
    )


def mutual_information(
    df: DataFrame,
    row_col: str,
    col_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Mutual information between two categorical columns, in nats:
    MI = Σ (o/n)·ln(o·n/(rt·ct)) over observed cells, plus both
    marginal entropies and the normalized MI/√(H_r·H_c) — the
    information-theoretic companion to :func:`chi2_independence` (same
    contingency machinery, answers "how many nats does knowing one
    tell you about the other?").  One row
    ``(n, n_rows, n_cols, mi, h_row, h_col, nmi)``.

    Determinism contract (the chi2 discipline): counts and marginals
    are exact BIGINTs; each term is ONE fixed double expression; every
    cross-cell float sum — MI over cells, each entropy over its
    marginal — runs as a left fold over the sorted cell/marginal list,
    replayed by the oracle's ``list_sum(list(... ORDER BY))``
    bit-for-bit.  Unobserved cells contribute exactly 0 (lim x·ln x)
    and are simply absent.  NMI is NULL when either margin is
    degenerate (single category ⇒ entropy 0).

    Scale: identical to chi2_independence — the fold state is the
    contingency table, bounded by category cardinalities; one
    map-side-combined count over the corpus.
    """
    return mi_from_cells(
        contingency_cells(df, row_col, col_col), round_digits=round_digits
    )


def mi_from_cells(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Finisher half of :func:`mutual_information` over a prebuilt
    (r, c, o) contingency table (the contingency streaming sketch)."""
    # one global row (never a groupBy) and an n_cells > 0 guard on every
    # fold: an empty input must yield ONE row of NULL statistics exactly
    # like chi2_from_cells and the SQL oracle's bare aggregates — a
    # zero-row report is the r5 chi2 empty-input divergence class, and a
    # streaming dashboard's MI view must read NULL, not vanish.
    g = _contingency_row(cells)
    tnd = F.col("n").cast("double")

    def t(x: Column) -> Column:
        od = x["o"].cast("double")
        return (od / tnd) * F.log(
            od * tnd / (x["rt"].cast("double") * x["ct"].cast("double"))
        )

    def ent(m: str):
        return lambda x: -(x[m].cast("double") / tnd) * F.log(
            x[m].cast("double") / tnd
        )

    def folded(arr: str, term) -> Column:
        return F.when(F.col("n_cells") > 0, sum_fold(arr, term))

    out = g.select(
        "n",
        "n_rows",
        "n_cols",
        folded("__cells", t).alias("mi_raw"),
        folded("__rows", ent("rt")).alias("h_r"),
        folded("__cols", ent("ct")).alias("h_c"),
    )
    nmi = F.when(
        (F.col("h_r") > 0) & (F.col("h_c") > 0),
        F.col("mi_raw") / F.sqrt(F.col("h_r") * F.col("h_c")),
    )
    return out.select(
        "n",
        "n_rows",
        "n_cols",
        (F.round(F.col("mi_raw"), round_digits) + F.lit(0.0)).alias("mi"),
        (F.round(F.col("h_r"), round_digits) + F.lit(0.0)).alias("h_row"),
        (F.round(F.col("h_c"), round_digits) + F.lit(0.0)).alias("h_col"),
        (F.round(nmi, round_digits) + F.lit(0.0)).alias("nmi"),
    )


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Cramér's V effect size for the chi-squared independence test:
    V = √(χ² / (n·min(r−1, c−1))) ∈ [0, 1] — how STRONG the
    association is, the companion to :func:`chi2_independence`'s
    "is there one?".  One row ``(n, n_rows, n_cols, dof, chi2, v)``.

    Pure composition over the chi2 report: V is derived from the
    ALREADY-ROUNDED chi2 (both engines round it identically, so the
    composition stays hash-deterministic); NULL when either margin is
    degenerate (min(r−1, c−1) = 0) or the statistic itself is NULL."""
    return _cramers_select(
        chi2_independence(df, row_col, col_col, round_digits=round_digits),
        round_digits,
    )


def cramers_from_cells(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Finisher half of :func:`cramers_v` over a prebuilt (r, c, o)
    contingency table (the contingency streaming sketch)."""
    return _cramers_select(
        chi2_from_cells(cells, round_digits=round_digits), round_digits
    )


def _cramers_select(rep: DataFrame, round_digits: int) -> DataFrame:
    mindim = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    v = F.when(
        (mindim > 0) & (F.col("n") > 0) & F.col("chi2").isNotNull(),
        F.sqrt(
            F.col("chi2") / (F.col("n").cast("double") * mindim.cast("double"))
        ),
    )
    return rep.select(
        "n",
        "n_rows",
        "n_cols",
        "dof",
        "chi2",
        (F.round(v, round_digits) + F.lit(0.0)).alias("v"),
    )


def ols_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group simple linear regression of y on x — the trend readout
    (slope per day, drift per sequence number) behind every "is this
    metric going up?" dashboard: ``(group, n, slope, intercept, r2)``.

    Determinism contract (the ab_test_report discipline): the six
    moments are EXACT — x is an integer column so Σx/Σx² are BIGINTs;
    y rides DECIMAL(18,2), so Σy/Σy²/Σxy are exact decimals under any
    partial-aggregation order.  The closed-form combination
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) then runs in double from
    those exact components with one fixed op order on both engines.
    slope/intercept are NULL when x is constant (den ≤ 0); r2 is NULL
    when either variance term is ≤ 0 (exact moments can still cancel
    to a tiny negative double — guard BEFORE the divide).

    Scale: one map-side-combined aggregate; group-count-sized output.
    The intercept is at x = 0 (not centered) — pass an already-anchored
    x (e.g. days since the window start) if you need an interpretable
    intercept.
    """
    # |x| must fit DECIMAL(10,0) (the sxy product's exactness bound) —
    # under non-ANSI Spark an overflowing cast silently NULLs, and
    # F.sum would then drop only the wide rows while n/sx keep them: a
    # WRONG slope, not a NULL one.  Fail loudly instead: pass an
    # anchored index (days since window start), never raw epoch-ms.
    x_checked = F.when(
        F.abs(F.col(x_col).cast("long")) <= 9_999_999_999,
        F.col(x_col).cast("long"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "ols_trend: |x| exceeds the DECIMAL(10,0) exactness bound"
                " — anchor the axis (e.g. days since epoch), do not pass"
                " raw epoch-ms/ns"
            )
        ).cast("long")
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        x_checked.alias("x"),
        F.col(y_col).cast("decimal(18,2)").alias("y"),
    )
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        # x as DECIMAL(10,0): 10+18+1 = 29-digit product stays exact under
        # the 38-digit cap (a wider x cast would trigger Spark's
        # precision-loss scale truncation); day/sequence indexes fit.
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = F.col("sy").cast("double")
    syy_d = F.col("syy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    num = n_d * sxy_d - sx_d * sy_d
    den = n_d * sxx_d - sx_d * sx_d
    deny = n_d * syy_d - sy_d * sy_d
    slope = F.when(den > 0, num / den)
    intercept = F.when(den > 0, (sy_d - (num / den) * sx_d) / n_d)
    r2 = F.when((den > 0) & (deny > 0), num * num / (den * deny))
    return (
        agg.select(
            F.col("grp").alias(group_col),
            "n",
            F.round(slope, round_digits).alias("slope"),
            F.round(intercept, round_digits).alias("intercept"),
            F.round(r2, round_digits).alias("r2"),
        )
        .orderBy(group_col)
    )


def _median_rank_filter(rn_col: str, n_col: str) -> Column:
    """The exact-median two-rank selection ``rn ∈ {(n+1) div 2,
    (n+2) div 2}`` (odd n picks the middle row once, even n the two
    middle rows; averaging the selected values IS the median) — shared
    by :func:`mad_outliers` and :func:`interarrival_stats` so the
    subtle rank arithmetic (``div``, NEVER ``/`` — Spark's ``/`` on two
    longs is double division and the filter would silently never match)
    lives in one place."""
    return (F.col(rn_col) == F.expr(f"({n_col} + 1) div 2")) | (
        F.col(rn_col) == F.expr(f"({n_col} + 2) div 2")
    )


def _exact_median_by(
    t: DataFrame, keys: list, col: str, out: str
) -> DataFrame:
    """Exact per-key median of ``col`` as an order statistic: one rank
    window + the :func:`_median_rank_filter` two-rank selection, then
    avg of the selected row(s).  The ONE definition behind every exact
    median in this module (:func:`mad_outliers`,
    :func:`weekday_adjusted_outliers`) — the rank arithmetic and the
    window shape must not fork."""
    ranked = t.select(
        *keys,
        F.col(col),
        F.row_number()
        .over(Window.partitionBy(*keys).orderBy(col))
        .alias("__rn"),
        F.count("*").over(Window.partitionBy(*keys)).alias("__n"),
    )
    return (
        ranked.filter(_median_rank_filter("__rn", "__n"))
        .groupBy(*keys)
        .agg(F.avg(col).alias(out))
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group robust outlier report via the median absolute deviation:
    ``(group, n, median, mad, n_outliers)`` where an outlier is
    |x − median| > k·mad.  The order-statistic sibling of
    :func:`iqr_outliers` that survives the approx-percentile value-error
    trap (see the quantile_report contract): both medians here are EXACT
    order statistics — row_number over the value sort picks the one or
    two middle rows, so the result depends only on the sorted multiset,
    never on tie order or aggregation order.

    Scale: two rank windows partitioned by group (the exact-median cost;
    at 100 TB with millions of rows per group you'd swap in the GK
    sketch and loosen the contract — this operator is the exact gate for
    group sizes that fit a partition, i.e. up to tens of millions) over
    ONE shuffle of the input by group, plus two broadcast joins of the
    per-group scalars.  k enters the flag
    comparison unrounded; rounding applies to the REPORTED median/mad
    only.
    """
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("double").alias("v"),
        )
        .repartition("grp")  # both windows and the flag reuse this exchange
    )
    med = _exact_median_by(base, ["grp"], "v", "med")
    devs = base.join(F.broadcast(med), "grp").withColumn(
        "dev", F.abs(F.col("v") - F.col("med"))
    )
    mad = _exact_median_by(devs.select("grp", "dev"), ["grp"], "dev", "mad")
    flagged = devs.join(F.broadcast(mad), "grp")
    return (
        flagged.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.first("med"), round_digits).alias("median"),
            F.round(F.first("mad"), round_digits).alias("mad"),
            F.sum(
                F.when(
                    F.col("dev") > F.lit(float(k)).cast("double") * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            F.col("grp").alias(group_col), "n", "median", "mad", "n_outliers"
        )
        .orderBy(group_col)
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group CUSUM changepoint over daily totals: the day t that
    maximizes |S_t − (t/N)·S_N| (the classic offline single-changepoint
    statistic — the cumulative sum's largest excursion from the
    constant-mean diagonal).  One row per group:
    ``(group, n_days, cp_day, max_dev)`` — "when did this metric's
    level shift?".

    Determinism contract: daily totals and their running cumulative sum
    ride DECIMAL(18,2) (window cumsum over decimals is exact whatever
    the partial order); the deviation is ONE fixed double expression
    from those exact components, so the doubles are bit-identical on
    both engines and the (dev desc, day asc) argmax cannot flip.

    Scale: one map-side-combined (group, day) aggregate, then windows
    over the DAILY table (groups × days rows, not events).
    """
    daily = (
        # the group filter is explicit (not an accident of the
        # cum⋈tot equi-join dropping NULL keys): a NULL group has no
        # changepoint row, same contract as the day/value filters
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(day_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("grp"), F.col(day_col).alias("day")
        )
        .agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("y"))
    )
    return cusum_from_daily(daily, group_col, round_digits)


def cusum_from_daily(
    daily: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`cusum_changepoint` over a PREBUILT
    (grp, day, y) daily-total table — decimal-width agnostic, so both
    the batch aggregate and :func:`daily_totals` (the live daily sketch
    on a stream) feed it."""
    daily = fresh_ids(daily)
    w = Window.partitionBy("grp").orderBy("day")
    cum = daily.select(
        "grp",
        "day",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("y").over(w).alias("s"),
    )
    tot = daily.groupBy("grp").agg(
        F.sum("y").alias("sn"), F.count("*").cast("long").alias("n")
    )
    dev = F.abs(
        F.col("s").cast("double")
        - (F.col("t").cast("double") / F.col("n").cast("double"))
        * F.col("sn").cast("double")
    )
    ranked = (
        cum.join(F.broadcast(tot), "grp")
        .select("grp", "day", "n", dev.alias("dev"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("grp").orderBy(
                    F.col("dev").desc(), F.col("day").asc()
                )
            ),
        )
    )
    return (
        ranked.filter(F.col("__rn") == 1)
        .select(
            F.col("grp").alias(group_col),
            F.col("n").alias("n_days"),
            F.col("day").alias("cp_day"),
            F.round(F.col("dev"), round_digits).alias("max_dev"),
        )
        .orderBy(group_col)
    )


def benford_profile(
    df: DataFrame,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column:
    per leading digit d ∈ 1..9, the observed share vs the Benford
    expectation log10(1 + 1/d) — the classic synthetic-data / fraud
    smell test (natural multiplicative quantities follow Benford;
    generated or capped ones don't).  Output: ``(digit, n_obs, share,
    benford_p, excess)``.

    Determinism contract: values ride DECIMAL(18,2) and the leading
    digit comes from the INTEGER cent count's string head — never from
    a double's engine-specific repr.  Counts are exact; share and
    excess are one fixed double expression; the Benford constants are
    emitted as repr literals (the CAST('<repr>' AS DOUBLE) rule) so
    both engines read bit-identical probabilities.

    Scale: one map-side-combined 9-row aggregate.
    """
    import math as _math

    cents = (
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("long")
    obs = (
        df.filter(F.col(value_col).isNotNull())
        .select(cents)
        .filter(F.col("cents") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("tn"))
    p_map = F.create_map(
        *[
            c
            for d in range(1, 10)
            for c in (
                F.lit(d),
                F.expr(f"CAST('{_math.log10(1.0 + 1.0 / d)!r}' AS DOUBLE)"),
            )
        ]
    )
    share = F.col("n_obs").cast("double") / F.col("tn").cast("double")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(share, round_digits).alias("share"),
            F.round(p_map[F.col("digit")], round_digits).alias("benford_p"),
            F.round(share - p_map[F.col("digit")], round_digits).alias(
                "excess"
            ),
        )
        .orderBy("digit")
    )


def benford_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Benford first-digit audit — :func:`benford_profile`
    segmented by ``group_col`` so one synthetic/capped segment can't
    hide inside a Benford-clean corpus total.  Output ``(group, digit,
    n_obs, share, benford_p, excess)``.

    Built on the shared (grp, v, c) value-cell table so the SAME
    monotone sketch that serves the rank/CDF family also answers the
    Benford question live (:func:`benford_from_cells` over the
    streaming :func:`value_cells` table)."""
    return benford_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def benford_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`benford_by_group` over a prebuilt
    (grp, v, c) cell table — the value-cell sketch's Benford report.

    Determinism contract: the leading digit comes from the INTEGER cent
    count's string head via the monotone double→DECIMAL(18,2) cast (the
    winsorized_from_cells precedent), never from a double repr; digit
    counts are exact integer sums of cell counts; the Benford constants
    are repr literals (CAST('<repr>' AS DOUBLE) rule).  Non-positive
    cents are filtered here, so the shared sketch needs no pre-filter.

    Scale: one 9-row-per-group aggregate over the cell table — bounded
    by group × value cardinality, never rows."""
    import math as _math

    cents = (F.col("v").cast("decimal(18,2)") * 100).cast("long")
    obs = (
        fresh_ids(cells).select("grp", cents.alias("cents"), "c")
        .filter(F.col("cents") > 0)
        .select(
            "grp",
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
            "c",
        )
        .groupBy("grp", "digit")
        .agg(F.sum("c").cast("long").alias("n_obs"))
    )
    tot = obs.groupBy("grp").agg(F.sum("n_obs").cast("long").alias("tn"))
    p_map = F.create_map(
        *[
            c
            for d in range(1, 10)
            for c in (
                F.lit(d),
                F.expr(f"CAST('{_math.log10(1.0 + 1.0 / d)!r}' AS DOUBLE)"),
            )
        ]
    )
    share = F.col("n_obs").cast("double") / F.col("tn").cast("double")
    return (
        obs.join(F.broadcast(tot), "grp")
        .select(
            F.col("grp").alias(group_col),
            "digit",
            "n_obs",
            F.round(share, round_digits).alias("share"),
            F.round(p_map[F.col("digit")], round_digits).alias("benford_p"),
            F.round(share - p_map[F.col("digit")], round_digits).alias(
                "excess"
            ),
        )
        .orderBy(group_col, "digit")
    )


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[int, ...] = (50, 90, 99),
    bucket_cents: int = 2500,
) -> DataFrame:
    """Mergeable deterministic quantile estimates from a fixed-width
    histogram sketch: per group and percentile p, the upper bound of
    the first bucket whose cumulative count reaches ceil(p%·n) —
    ``(group, p, n, est_hi, bucket_width)``.

    This is the quantile member of the repo's mergeable-sketch family
    (HLL / KMV / CMS / Bloom): bucket counts are plain integer
    aggregates, so sketches merge by ADDITION across partitions, days,
    or streaming micro-batches — unlike approx_percentile's GK sketch
    (merge-order-sensitive internals, rank-error-only contract: see
    quantile_report) or exact medians (not mergeable at all).  The
    price is value error bounded by ONE bucket width, stated in the
    output.

    Determinism contract: values ride DECIMAL(18,2) cents, bucket ids
    are integer ``div``; the rank threshold ceil(p·n/100) is the exact
    integer ``(p·n + 99) div 100`` — no doubles anywhere until the
    reported bound (cents → units, one division by 100.0).

    Scale: one (group, bucket) count — state bounded by the value
    range over the bucket width per group — then a cumulative window
    over the bucket-ordered sketch rows.
    """
    return quantiles_from_histogram(
        histogram_buckets(df, group_col, value_col, bucket_cents),
        group_col,
        quantiles,
        bucket_cents,
    )


def histogram_buckets(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_cents: int = 2500,
) -> DataFrame:
    """The sketch-build half of :func:`histogram_quantiles`:
    ``(group, b, c)`` integer bucket counts.  Pure aggregate — on a
    streaming DataFrame it is the live quantile/PSI sketch, its state
    one count per occupied bucket, bounded by the value range over
    ``bucket_cents`` per group; sketches from different
    partitions/days/micro-batches merge by summing ``c``."""
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    return (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), cents.alias("cents"))
        .select("grp", floor_bucket("cents", bucket_cents).alias("b"))
        .groupBy("grp", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )


def floor_bucket(col_name: str, width: int) -> Column:
    """Sign-guarded fixed-width bucket of an integer column — the ONE
    source of truth for the cross-engine floor-division identity:
    Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors,
    so they diverge on negative operands; routing both engines through
    non-negative operands only (CASE on sign + the
    ``-((-x + w-1) div w)`` identity) keeps bucket ids identical."""
    w = int(width)
    return F.expr(
        f"CASE WHEN {col_name} >= 0 THEN {col_name} div {w} "
        f"ELSE -((-{col_name} + {w} - 1) div {w}) END"
    )


def quantiles_from_histogram(
    buckets: DataFrame,
    group_col: str,
    quantiles: tuple[int, ...] = (50, 90, 99),
    bucket_cents: int = 2500,
) -> DataFrame:
    """The finisher half of :func:`histogram_quantiles` over a PREBUILT
    (grp, b, c) bucket table — e.g. one maintained incrementally by
    :func:`histogram_buckets` on a stream."""
    if not quantiles:
        raise ValueError("quantiles must be non-empty")
    bw = int(bucket_cents)
    buckets = fresh_ids(buckets)
    w = Window.partitionBy("grp").orderBy("b")
    cum = buckets.select(
        "grp", "b", F.sum("c").over(w).cast("long").alias("cum")
    )
    tot = buckets.groupBy("grp").agg(F.sum("c").cast("long").alias("n"))
    j = cum.join(F.broadcast(tot), "grp")
    out = None
    for p in quantiles:
        thresh = F.expr(f"({p} * n + 99) div 100")
        hit = (
            j.filter(F.col("cum") >= thresh)
            .groupBy("grp", "n")
            .agg(F.min("b").alias("b"))
            .select(
                "grp",
                F.lit(int(p)).cast("long").alias("p"),
                "n",
                F.round(
                    ((F.col("b") + 1) * bw).cast("double") / F.lit(100.0),
                    4,
                ).alias("est_hi"),
                F.round(F.lit(bw).cast("double") / F.lit(100.0), 4).alias(
                    "bucket_width"
                ),
            )
        )
        out = hit if out is None else out.unionAll(hit)
    return out.select(
        F.col("grp").alias(group_col), "p", "n", "est_hi", "bucket_width"
    ).orderBy(group_col, "p")


def association_rules(
    df: DataFrame,
    basket_cols: list[str] | tuple[str, ...],
    item_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Market-basket association rules over (basket, item) observations:
    for every ordered item pair A→B that co-occurs in at least one
    basket, ``(antecedent, consequent, n_pair, support, confidence,
    lift)`` — the classic affinity readout (support = P(A∧B),
    confidence = P(B|A), lift = P(A∧B)/(P(A)P(B))).

    Determinism contract: basket/item/pair counts are exact BIGINTs
    (distinct items per basket, in-row pair enumeration from the sorted
    item array — no basket self-join); the three ratios are single
    fixed double expressions from exact counts.

    Scale: baskets collect their DISTINCT item set once (state = items
    per basket, bounded by the item vocabulary); pairs explode in-row;
    item totals are a vocabulary-sized broadcast.  Nothing is ever
    quadratic in baskets.
    """
    b_items = (
        df.filter(F.col(item_col).isNotNull())
        .select(*basket_cols, F.col(item_col).alias("__it"))
        .groupBy(*basket_cols)
        .agg(F.array_sort(F.collect_set("__it")).alias("items"))
    )
    return rules_from_baskets(b_items, round_digits=round_digits)


def rules_from_baskets(
    b_items: DataFrame, round_digits: int = 4
) -> DataFrame:
    """Association rules from an already-materialized basket table
    (any key columns + an ``items`` sorted-distinct array) — the
    finisher half of :func:`association_rules`, which also serves the
    streaming twin: ``streaming/association.basket_items_stream``
    maintains the monotone (basket, item) distinct relation, and
    :func:`association_rules` over it groups it to baskets at read
    time."""
    # counts every basket, as count(*) would; reading items stops column
    # pruning from re-aggregating the baskets without their item sets,
    # so this branch shares the basket exchange with the other two
    n_baskets = b_items.agg(
        F.count_if(F.size("items") >= 0).cast("long").alias("nb")
    )
    item_counts = (
        b_items.select(F.explode("items").alias("it"))
        .groupBy("it")
        .agg(F.count("*").cast("long").alias("ci"))
    )
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    pair_counts = (
        pairs_from_sorted_groups(
            b_items.select(F.col("items").alias("ds")), distinct=False
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("cp"))
    )
    # both rule directions from each unordered pair
    directed = pair_counts.select(
        F.col("id_a").alias("ant"), F.col("id_b").alias("con"), "cp"
    ).unionAll(
        pair_counts.select(
            F.col("id_b").alias("ant"), F.col("id_a").alias("con"), "cp"
        )
    )
    j = (
        directed.join(
            F.broadcast(item_counts.select(F.col("it").alias("ant"),
                                           F.col("ci").alias("ca"))),
            "ant",
        )
        .join(
            F.broadcast(item_counts.select(F.col("it").alias("con"),
                                           F.col("ci").alias("cb"))),
            "con",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    cp_d = F.col("cp").cast("double")
    return (
        j.select(
            F.col("ant").alias("antecedent"),
            F.col("con").alias("consequent"),
            F.col("cp").alias("n_pair"),
            F.round(cp_d / F.col("nb").cast("double"), round_digits).alias(
                "support"
            ),
            F.round(cp_d / F.col("ca").cast("double"), round_digits).alias(
                "confidence"
            ),
            F.round(
                (F.col("nb").cast("double") * cp_d)
                / (F.col("ca").cast("double") * F.col("cb").cast("double")),
                round_digits,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


def psi_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_cents: int = 2500,
    round_digits: int = 4,
) -> DataFrame:
    """Population Stability Index of each group's value distribution
    against its COMPLEMENT (the always-on drift readout: has this
    segment's distribution diverged from everyone else's?):
    ``(group, n, n_rest, n_buckets, psi)``.  Rule of thumb: < 0.1
    stable, 0.1–0.25 moderate shift, > 0.25 major shift.

    Built on the same histogram sketch as :func:`histogram_quantiles`
    (exact integer bucket counts over DECIMAL cents), with add-one
    smoothing — p = (c+1)/(n+B) over the GLOBAL bucket spine — so empty
    buckets are well-defined without epsilon hacks and the shares stay
    exact rationals until one double division.  The per-bucket
    (p_a − p_rest)·ln(p_a/p_rest) terms sum as a bucket-sorted left
    fold (ln parity: the token_entropy precedent).

    Scale: one histogram aggregate; every later stage runs on the
    groups × buckets grid, never the corpus: one row per group carrying
    its bucket-count map, folded in-row over the broadcast spine.
    """
    return psi_from_histogram(
        histogram_buckets(df, group_col, value_col, bucket_cents),
        group_col,
        round_digits,
    )


def psi_from_histogram(
    buckets: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`psi_profile` over a PREBUILT
    (grp, b, c) bucket table — the SAME table
    :func:`histogram_buckets` maintains on a stream, so one
    streaming sketch serves both the quantile report and live drift
    monitoring."""
    # every branch reads the whole bucket table, so they share its
    # exchange; each group's PSI folds in-row over the sorted spine
    nonnull_b = lambda *cols: F.collect_list(  # noqa: E731
        F.when(F.col("b").isNotNull(), F.struct("b", *cols))
    )
    per_g = buckets.groupBy("grp").agg(
        F.sum("c").cast("long").alias("na"),
        F.map_from_entries(nonnull_b("c")).alias("cm"),
    )
    spine = (
        buckets.groupBy("b")
        .agg(F.sum("c").cast("long").alias("tb"))
        .agg(
            F.sum("tb").cast("long").alias("nn"),
            F.sum(F.col("b").isNotNull().cast("long")).alias("bb"),
            F.array_sort(nonnull_b("tb")).alias("spine"),
        )
    )

    def term(x: Column) -> Column:
        ca = F.coalesce(F.col("cm")[x["b"]], F.lit(0))
        pa = (ca + 1).cast("double") / (F.col("na") + F.col("bb")).cast("double")
        pr = (x["tb"] - ca + 1).cast("double") / (
            F.col("nn") - F.col("na") + F.col("bb")
        ).cast("double")
        return (pa - pr) * F.log(pa / pr)

    return (
        per_g.filter(F.col("grp").isNotNull())
        .crossJoin(F.broadcast(spine))
        .select(
            F.col("grp").alias(group_col),
            F.col("na").alias("n"),
            (F.col("nn") - F.col("na")).cast("long").alias("n_rest"),
            F.col("bb").alias("n_buckets"),
            F.round(
                F.aggregate(
                    "spine", F.lit(0.0).cast("double"), lambda acc, x: acc + term(x)
                ),
                round_digits,
            ).alias("psi"),
        )
        .orderBy(group_col)
    )


def value_cells(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Shared (grp, v, c) count table for the rank/CDF statistics
    (ranksum_by_group, ks_by_group): null-filtered, double-cast.  Counts
    are MONOTONE and merge by ADDITION, so on a streaming DataFrame
    this aggregate is the live sketch for the value-cell family, its
    state one count per occupied (grp, v) cell, bounded by group ×
    value cardinality (quantize unbounded doubles upstream with
    :func:`floor_bucket`) — the histogram_buckets discipline."""
    return (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("grp", "v")
        .agg(F.count("*").cast("long").alias("c"))
    )


def ranksum_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Mann-Whitney U rank-sum test of ``value`` against the
    group's COMPLEMENT — the nonparametric sibling of
    :func:`ab_test_report`'s Welch z: does this segment's value
    DISTRIBUTION sit higher or lower than everyone else's, outliers and
    non-normality be damned?  Output ``(group, n, n_rest, u, z)``; |z|
    ≳ 1.96 flags a shifted segment at the usual 5% level.

    Determinism contract: ranks never touch raw rows — the doubled
    average rank of every distinct value, ``2·(cum count below) + t +
    1`` (t = the value's tie count), comes from a cumulative window
    over the DISTINCT-VALUE count table, so every rank is an exact
    integer and the per-group rank sum Σ c_g·dr is an exact BIGINT.
    The doubled U statistic ``u2 = Σc_g·dr − n1·(n1+1)`` is exact; the
    tie-corrected variance ``(n1·n2/12)·((n+1) − Σ(t³−t)/(n·(n−1)))``
    uses the exact DECIMAL(38,0) tie sum (t³ exceeds int64 past n ≈
    2M ties on one value); only the final mean/variance/z arithmetic is
    floating point, with ONE expression shape on both engines.  z is
    NULL when the variance is 0 (every row the same value).

    Scale: one (group, value) count (the only full-data shuffle), then
    everything runs on the distinct-value table.  The cumulative window
    over distinct values is a single-partition sort of that table —
    bounded by VALUE CARDINALITY, not rows; quantize unbounded doubles
    upstream (``histogram_buckets``) exactly as for :func:`ks_by_group`.
    """
    return ranksum_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def ranksum_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`ranksum_by_group` over a PREBUILT
    (grp, v, c) cell table — e.g. one maintained incrementally by
    :func:`value_cells` on a stream (the quantiles_from_histogram
    split)."""
    per = _ranksum_parts(cells)
    n1d = F.col("n1").cast("double")
    n2d = (F.col("n") - F.col("n1")).cast("double")
    nd = F.col("n").cast("double")
    u2 = F.col("r2") - F.col("n1") * (F.col("n1") + 1)
    var = (
        (n1d * n2d / F.lit(12.0))
        * ((nd + F.lit(1.0)) - F.col("tsum").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    # outer n >= 2 guard fires BEFORE the tie-correction's n·(n−1)
    # division inside var can run (the r5 guard-before-sqrt discipline
    # applies to divisions too: ANSI mode raises on a 1-row input).
    z = F.when(
        F.col("n") >= 2,
        F.when(
            var > 0,
            (u2.cast("double") / F.lit(2.0) - n1d * n2d / F.lit(2.0))
            / F.sqrt(var),
        ),
    )
    return (
        per.select(
            F.col("grp").alias(group_col),
            F.col("n1").alias("n"),
            (F.col("n") - F.col("n1")).cast("long").alias("n_rest"),
            F.round(u2.cast("double") / F.lit(2.0), round_digits).alias("u"),
            (F.round(z, round_digits) + F.lit(0.0)).alias("z"),
        )
        .orderBy(group_col)
    )


def _ranksum_parts(cells: DataFrame) -> DataFrame:
    """Shared rank machinery for the Mann-Whitney family: per-group
    ``(grp, n1, r2, n, tsum)`` — exact BIGINT rank sums from the
    distinct-value count table (never a global row rank), the exact
    DECIMAL(38,0) tie sum, and the global n — consumed by
    :func:`ranksum_from_cells` (U/z) and :func:`cliffs_from_cells`
    (dominance δ)."""
    cells = fresh_ids(cells)
    vals = cells.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    # doubled average rank of value v: ranks cum_prev+1 .. cum_prev+t
    # average to cum_prev + (t+1)/2, doubled = 2·cum_prev + t + 1.
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "t",
        (2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1)
        .cast("long")
        .alias("dr"),
    )
    dec = "decimal(38,0)"
    ties = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("t").cast(dec) * F.col("t").cast(dec) * F.col("t").cast(dec)
            - F.col("t").cast(dec)
        ).alias("tsum"),
    )
    return (
        cells.join(F.broadcast(ranked.select("v", "dr")), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n1"),
            F.sum(F.col("c") * F.col("dr")).cast("long").alias("r2"),
        )
        .crossJoin(F.broadcast(ties))
    )


def cliffs_delta_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Cliff's delta vs the group's complement — the
    nonparametric EFFECT SIZE companion to :func:`ranksum_by_group`'s
    significance z: δ = P(X > Y) − P(X < Y) ∈ [−1, 1], how often this
    segment's values dominate everyone else's.  |δ| ≳ 0.33/0.47 are the
    conventional medium/large thresholds.  Output
    ``(group, n, n_rest, delta)``; delta is NULL when the complement is
    empty.

    Determinism: δ = (u2 − n1·n2) / (n1·n2) where the doubled U
    ``u2 = Σc·dr − n1·(n1+1)`` is the same exact BIGINT the rank-sum
    report uses (ties get the standard half credit via the doubled
    average ranks) — one exact integer difference, one double division.

    Scale: identical envelope to :func:`ranksum_by_group` — one
    (group, value) count, then the distinct-value table.
    """
    return cliffs_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def cliffs_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`cliffs_delta_by_group` over a prebuilt
    (grp, v, c) cell table (the value-cell streaming sketch)."""
    per = _ranksum_parts(cells)
    u2 = F.col("r2") - F.col("n1") * (F.col("n1") + 1)
    n1n2 = F.col("n1") * (F.col("n") - F.col("n1"))
    delta = F.when(
        n1n2 > 0,
        (u2 - n1n2).cast("double") / n1n2.cast("double"),
    )
    return (
        per.select(
            F.col("grp").alias(group_col),
            F.col("n1").alias("n"),
            (F.col("n") - F.col("n1")).cast("long").alias("n_rest"),
            (F.round(delta, round_digits) + F.lit(0.0)).alias("delta"),
        )
        .orderBy(group_col)
    )


def ks_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov distance of ``value``
    against the group's COMPLEMENT: the supremum |F_g(x) − F_rest(x)|
    over the empirical CDFs — the distribution-shape drift metric that
    catches what a mean test misses (``psi_profile``'s un-bucketed exact
    sibling).  Output ``(group, n, n_rest, ks_d, at_value)`` where
    ``at_value`` is the smallest value attaining the supremum.

    Determinism contract: both CDFs are step functions changing only at
    observed values, so D is an exact integer maximum — per grid point,
    ``|i·n2 − j·n1|`` with i/j the inclusive cumulative counts and the
    products in DECIMAL(38,0) (they exceed int64 past n ≈ 3·10⁹) —
    divided by n1·n2 only at the very end.  The argmax is pinned by an
    explicit (d DESC, v ASC) row_number, never max_by.

    Scale: one (group, value) count, then every stage runs on the
    |groups| × |distinct values| grid — this operator is for
    BOUNDED-CARDINALITY group columns (types, variants) and value
    columns of bounded distinct count; quantize unbounded doubles
    upstream (``histogram_buckets``) to bound the grid, exactly as the
    chi2 contract bounds its contingency table.
    """
    return ks_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def ks_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`ks_by_group` over a PREBUILT
    (grp, v, c) cell table — the SAME table :func:`value_cells`
    maintains on a stream, so one streaming sketch serves both rank
    statistics."""
    dec = "decimal(38,0)"
    grid = _cdf_grid(cells)
    dnum = F.abs(
        F.col("cum1").cast(dec) * (F.col("n_tot") - F.col("n1")).cast(dec)
        - (F.col("cump") - F.col("cum1")).cast(dec) * F.col("n1").cast(dec)
    )
    scored = grid.select(
        "grp", "v", "n1", F.col("n_tot").alias("n"), dnum.alias("dnum")
    )
    wbest = Window.partitionBy("grp").orderBy(
        F.col("dnum").desc(), F.col("v").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(wbest)).filter(
        F.col("rn") == 1
    )
    return (
        best.select(
            F.col("grp").alias(group_col),
            F.col("n1").alias("n"),
            (F.col("n") - F.col("n1")).cast("long").alias("n_rest"),
            # NULL, not a crash, when the complement is empty (single
            # distinct group): ANSI mode raises on the 0-denominator.
            F.round(
                F.when(
                    F.col("n") > F.col("n1"),
                    F.col("dnum").cast("double")
                    / (
                        F.col("n1").cast("double")
                        * (F.col("n") - F.col("n1")).cast("double")
                    ),
                ),
                round_digits,
            ).alias("ks_d"),
            F.col("v").alias("at_value"),
        )
        .orderBy(group_col)
    )


def _cdf_grid(cells: DataFrame) -> DataFrame:
    """The shared groups × pooled-values CDF grid behind the
    two-sample shape statistics (:func:`ks_from_cells`,
    :func:`cvm_from_cells`, :func:`ad_from_cells`): one row per
    (group, pooled distinct value) carrying the value's pooled count
    ``l``, the group's count there ``cf`` (0 where absent), and the
    INCLUSIVE cumulative counts ``cum1`` (group) / ``cump`` (pooled),
    plus the ``n1`` / ``n_tot`` scalars.  AD's doubled midranks derive
    exactly as ``m2 = 2·cum1 − cf`` and ``b2 = 2·cump − l``.  One
    definition so the spine arithmetic cannot fork (the
    _ranksum_parts/_exact_median_by precedent)."""
    cells = fresh_ids(cells)
    pooled = cells.groupBy("v").agg(F.sum("c").cast("long").alias("l"))
    sizes = cells.groupBy("grp").agg(F.sum("c").cast("long").alias("n1"))
    tot = cells.agg(F.sum("c").cast("long").alias("n_tot"))
    wall = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    pts = pooled.select(
        "v", "l", F.sum("l").over(wall).cast("long").alias("cump")
    )
    wg = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        pts.crossJoin(F.broadcast(sizes))
        .join(cells, ["grp", "v"], "left")
        .withColumn("cf", F.coalesce(F.col("c"), F.lit(0)).cast("long"))
        .withColumn("cum1", F.sum("cf").over(wg).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select("grp", "v", "n1", "n_tot", "l", "cf", "cum1", "cump")
    )


def ad_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group two-sample Anderson-Darling statistic of ``value`` vs
    the group's COMPLEMENT — the tail-sensitive member of the
    two-sample family (ranksum = shift, KS = max CDF gap, Cliff = how
    often, AD = whole-distribution with tail weighting).  The
    tie-adjusted midrank A²ₐₖₙ of Scholz & Stephens (JASA 1987, k=2,
    their eq. 7) — what ``scipy.anderson_ksamp(midrank=True)`` computes
    as the raw statistic.  Output ``(group, n, n_rest, a2)``; a2 is
    NULL when the pooled sample has a single distinct value or either
    sample is empty.  Under H₀, E[a2] ≈ k − 1 = 1; compare the
    standardized (a2 − 1)/σ_N against Scholz-Stephens Table 1 (or
    scipy's interpolated critical values) for a calibrated test —
    larger a2 = more distributional difference, tails weighted.

    Determinism contract: with DOUBLED midranks every per-value term
    is a ratio of exact integers — numerator l·T² with
    T = N·M2 − n₁·B2 (M2/B2 the doubled sample/pooled midrank counts),
    denominator D2 = B2·(2N − B2) − N·l, algebraically 4× the textbook
    B(N−B) − Nl/4 and > 0 whenever l < N — so the only float work is
    one fixed expression per distinct value and one value-ordered left
    fold (the complement's T is exactly −T(group), so one fold serves
    both samples), replayed by the oracle's
    ``list_sum(list(... ORDER BY v))``; eq. 7's l/N weight enters as a
    single s/N division in the final combination.  The wide products
    ride DECIMAL(38,0) (T ~ 2N², past int64 at N ≈ 2·10⁹).

    Scale: the ranksum envelope — one (group, value) count, then the
    distinct-value table; quantize unbounded doubles upstream
    (value_cells contract)."""
    return ad_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def ad_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`ad_by_group` over a prebuilt
    (grp, v, c) cell table (the value-cell streaming sketch).  Built on
    the shared :func:`_cdf_grid`: the doubled midranks are exactly
    ``m2 = 2·cum1 − cf`` and ``b2 = 2·cump − l``."""
    dec = "decimal(38,0)"
    grid = _cdf_grid(cells)
    m2 = (2 * F.col("cum1") - F.col("cf")).cast("long")
    b2 = (2 * F.col("cump") - F.col("l")).cast("long")
    terms = grid.select(
        "grp",
        "v",
        "n1",
        "n_tot",
        F.col("l").cast(dec).alias("ld"),
        (
            F.col("n_tot").cast(dec) * m2.cast(dec)
            - F.col("n1").cast(dec) * b2.cast(dec)
        ).alias("t1"),
        (
            b2.cast(dec) * (2 * F.col("n_tot") - b2).cast(dec)
            - F.col("n_tot").cast(dec) * F.col("l").cast(dec)
        ).alias("d2"),
    )
    # complement's T is derived, not re-ranked: M2_rest = B2 − M2_grp
    # and T2 = N·(B2 − M2) − (N − n1)·B2 = n1·B2 − N·M2 = −T1 exactly,
    # so T2² = T1² and S2's fold shares S1's elements — ONE fold, two
    # divisors.  The Scholz-Stephens eq. 7 weight is l/N, so each term
    # carries l and the final combination divides the fold by N once
    # per sample (r7 review fix: the raw l weight made a2 exactly N×
    # the published statistic).
    term = F.when(
        F.col("d2") > 0,
        F.col("ld").cast("double")
        * F.col("t1").cast("double")
        * F.col("t1").cast("double")
        / F.col("d2").cast("double"),
    ).otherwise(F.lit(0.0))
    agg = terms.groupBy("grp", "n1", "n_tot").agg(
        F.countDistinct("v").cast("long").alias("n_vals"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("v"), term.alias("t")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["t"],
        ).alias("s"),
    )
    n1d = F.col("n1").cast("double")
    n2d = (F.col("n_tot") - F.col("n1")).cast("double")
    nd = F.col("n_tot").cast("double")
    sn = F.col("s") / nd
    a2 = F.when(
        (F.col("n_vals") > 1)
        & (F.col("n1") > 0)
        & (F.col("n_tot") > F.col("n1")),
        ((nd - F.lit(1.0)) / nd) * (sn / n1d + sn / n2d),
    )
    return (
        agg.select(
            F.col("grp").alias(group_col),
            F.col("n1").alias("n"),
            (F.col("n_tot") - F.col("n1")).cast("long").alias("n_rest"),
            (F.round(a2, round_digits) + F.lit(0.0)).alias("a2"),
        )
        .orderBy(group_col)
    )


def cvm_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group two-sample Cramér-von Mises statistic of ``value`` vs
    the group's COMPLEMENT — the INTEGRAL member of the two-sample
    family (KS = max CDF gap, CvM = squared gap integrated over the
    pooled sample, AD = the same with tail weighting):
    W² = Σⱼ lⱼ·(F₁(vⱼ) − F₂(vⱼ))² · n₁n₂/N², computed as
    Σⱼ lⱼ·Dⱼ²/(n₁·n₂·N²) with Dⱼ = cum₁ⱼ·n₂ − cum₂ⱼ·n₁ an EXACT
    integer (right-continuous CDFs at each pooled distinct value).
    Output ``(group, n, n_rest, w2)``; w2 is NULL when either sample
    is empty.  The usual 5% critical value is ~0.461.

    Determinism contract: Dⱼ and lⱼ are exact DECIMAL(38,0)/BIGINT
    integers; each term is one fixed double ratio and the only float
    reduction is a value-ordered left fold, replayed by the oracle's
    ``list_sum(list(... ORDER BY v))``.

    Scale: the ranksum/AD envelope — one (group, value) count, then
    the groups × distinct-values grid; quantize unbounded doubles
    upstream (value_cells contract)."""
    return cvm_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def cvm_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`cvm_by_group` over a prebuilt
    (grp, v, c) cell table (the value-cell streaming sketch), built on
    the shared :func:`_cdf_grid`."""
    dec = "decimal(38,0)"
    grid = _cdf_grid(cells)
    # D = cum1·n2 − cum2·n1 with cum2 = cump − cum1
    d_int = (
        F.col("cum1").cast(dec) * (F.col("n_tot") - F.col("n1")).cast(dec)
        - (F.col("cump") - F.col("cum1")).cast(dec) * F.col("n1").cast(dec)
    )
    terms = grid.select(
        "grp",
        "v",
        "n1",
        "n_tot",
        F.col("l").cast("double").alias("ld"),
        d_int.alias("d"),
    )
    term = (
        F.col("ld")
        * F.col("d").cast("double")
        * F.col("d").cast("double")
    )
    agg = terms.groupBy("grp", "n1", "n_tot").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("v"), term.alias("t")))
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["t"],
        ).alias("s")
    )
    n1d = F.col("n1").cast("double")
    n2d = (F.col("n_tot") - F.col("n1")).cast("double")
    nd = F.col("n_tot").cast("double")
    w2 = F.when(
        (F.col("n1") > 0) & (F.col("n_tot") > F.col("n1")),
        F.col("s") / (n1d * n2d * nd * nd),
    )
    return (
        agg.select(
            F.col("grp").alias(group_col),
            F.col("n1").alias("n"),
            (F.col("n_tot") - F.col("n1")).cast("long").alias("n_rest"),
            (F.round(w2, round_digits) + F.lit(0.0)).alias("w2"),
        )
        .orderBy(group_col)
    )


def jt_trend_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
    round_digits: int = 4,
) -> DataFrame:
    """Jonckheere-Terpstra ordered-trend test (Jonckheere 1954;
    Terpstra 1952): does ``value`` trend MONOTONICALLY across the
    ordered ``groups``?  The k-sample generalization of Mann-Whitney
    for an a-priori ordering (hour-of-day, dose, week index) — more
    powerful than Kruskal-Wallis when the alternative IS a trend.

    JT = Σ_{i<j} U_ij over ordered group pairs (ties credit ½); the
    normal approximation uses the tie-corrected variance of Hollander &
    Wolfe (Nonparametric Statistical Methods, eq. 6.19).  ``groups``
    must list the ordered group keys explicitly (the pivot contract —
    an ordered-trend test over unbounded group cardinality is a
    modeling error, use a rank correlation instead).

    One row ``(n_groups, n, jt2, z)``: jt2 = 2·JT (exact — ties make
    JT a half-integer), z NULL when the variance is degenerate.
    See :func:`jt_from_cells` for the determinism contract."""
    return jt_from_cells(
        value_cells(df, group_col, value_col), groups, round_digits
    )


def jt_from_cells(
    cells: DataFrame,
    groups: list,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`jt_trend_by_group` over a PREBUILT
    (grp, v, c) cell table — the value-cell sketch's trend report.

    Determinism contract: the cell table pivots to one row per distinct
    value with per-group exact counts (missing cells 0); per-group
    below-value cumulatives come from ONE value-ordered window; then
    2·JT = Σ_v Σ_j c_j(v)·(2·Σ_{i<j} cum_i(v) + Σ_{i<j} c_i(v)) is a
    pure-integer sum accumulated in DECIMAL(38,0) (pair counts reach
    N²/2 — the gini wide-arithmetic discipline), as are every n_i, the
    pooled tie sums Σ t(t−1)(2t+5) / t(t−1)(t−2) / t(t−1), and the H0
    mean 2·E[JT] = Σ_{i<j} n_i·n_j.  The only floats are the three
    variance terms (fixed expression order) and the final z division;
    the variance guard fires BEFORE sqrt (the Welch discipline).

    Scale: one pivot aggregate over the cell table + one global
    aggregate — everything after the cell build is bounded by VALUE
    CARDINALITY × k, never rows."""
    if len(groups) < 2:
        raise ValueError("jt_from_cells needs >= 2 ordered groups")
    if len(set(groups)) != len(groups):
        raise ValueError("jt_from_cells groups must be distinct")
    k = len(groups)
    dec = "decimal(38,0)"
    piv = (
        cells.filter(F.col("grp").isin(list(groups)))
        .groupBy("v")
        .pivot("grp", list(groups))
        .sum("c")
    )
    # pivot emits the group keys as column names in `groups` order
    cols = piv.columns[1:]
    filled = piv.select(
        "v",
        *[
            F.coalesce(F.col(f"`{c}`"), F.lit(0)).cast("long").alias(f"c_{i}")
            for i, c in enumerate(cols)
        ],
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = filled.select(
        "v",
        *[F.col(f"c_{i}") for i in range(k)],
        *[
            F.coalesce(F.sum(f"c_{i}").over(wv), F.lit(0))
            .cast("long")
            .alias(f"cl_{i}")
            for i in range(k)
        ],
    )
    # per-value 2·JT contribution: group j against the union of earlier
    # groups — integer expression, widened before the row sum
    jt_term = None
    for j in range(1, k):
        pre_lt = None
        pre_eq = None
        for i in range(j):
            pre_lt = (
                F.col(f"cl_{i}")
                if pre_lt is None
                else pre_lt + F.col(f"cl_{i}")
            )
            pre_eq = (
                F.col(f"c_{i}") if pre_eq is None else pre_eq + F.col(f"c_{i}")
            )
        t = F.col(f"c_{j}").cast(dec) * (
            F.lit(2).cast(dec) * pre_lt.cast(dec) + pre_eq.cast(dec)
        )
        jt_term = t if jt_term is None else jt_term + t
    tv = None
    for i in range(k):
        tv = F.col(f"c_{i}") if tv is None else tv + F.col(f"c_{i}")
    tvd = tv.cast(dec)
    agg_exprs = [
        F.coalesce(F.sum(jt_term), F.lit(0).cast(dec)).alias("jt2"),
        F.coalesce(
            F.sum(tvd * (tvd - 1) * (2 * tvd + 5)), F.lit(0).cast(dec)
        ).alias("tie_a"),
        F.coalesce(
            F.sum(tvd * (tvd - 1) * (tvd - 2)), F.lit(0).cast(dec)
        ).alias("tie_b"),
        F.coalesce(F.sum(tvd * (tvd - 1)), F.lit(0).cast(dec)).alias("tie_c"),
    ] + [
        F.coalesce(F.sum(f"c_{i}"), F.lit(0)).cast("long").alias(f"n_{i}")
        for i in range(k)
    ]
    g = cum.agg(*agg_exprs)
    n = None
    for i in range(k):
        n = F.col(f"n_{i}") if n is None else n + F.col(f"n_{i}")
    nd = n.cast(dec)
    grp_a = None
    grp_b = None
    grp_c = None
    mean2 = None  # Σ_{i<j} n_i·n_j = 2·E[JT], exact
    for i in range(k):
        nid = F.col(f"n_{i}").cast(dec)
        ta = nid * (nid - 1) * (2 * nid + 5)
        tb = nid * (nid - 1) * (nid - 2)
        tc = nid * (nid - 1)
        grp_a = ta if grp_a is None else grp_a + ta
        grp_b = tb if grp_b is None else grp_b + tb
        grp_c = tc if grp_c is None else grp_c + tc
        for j in range(i + 1, k):
            pr = nid * F.col(f"n_{j}").cast(dec)
            mean2 = pr if mean2 is None else mean2 + pr
    var_a = (
        (nd * (nd - 1) * (2 * nd + 5) - grp_a - F.col("tie_a"))
        .cast("double")
        / F.lit(72.0)
    )
    # the B/C numerators multiply two n³-scale exact sums — their
    # DECIMAL product would exceed 38 digits past N ~ 1e6, so each
    # factor converts to double FIRST (both engines, identical order)
    var_b = grp_b.cast("double") * F.col("tie_b").cast("double") / (
        (F.lit(36).cast(dec) * nd * (nd - 1) * (nd - 2)).cast("double")
    )
    var_c = grp_c.cast("double") * F.col("tie_c").cast("double") / (
        (F.lit(8).cast(dec) * nd * (nd - 1)).cast("double")
    )
    var = var_a + var_b + var_c
    # z from doubled exact components: (2JT − 2·E[JT]) / (2·sqrt(Var));
    # the n >= 3 guard keeps the (N−2) division alive, the var > 0
    # guard fires BEFORE sqrt (ANSI + the Welch discipline)
    z = F.when(
        n >= 3,
        F.when(
            var > 0,
            (F.col("jt2") - mean2).cast("double")
            / (F.lit(2.0) * F.sqrt(var)),
        ),
    )
    return g.select(
        F.lit(k).cast("long").alias("n_groups"),
        n.cast("long").alias("n"),
        F.col("jt2").cast("long").alias("jt2"),
        (F.round(z, round_digits) + F.lit(0.0)).alias("z"),
    )


def km_curve(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator (Kaplan & Meier
    1958) over (duration, observed) rows — duration an integer time
    unit, observed TRUE for an event (death/conversion), FALSE for
    right-censoring at that duration.  One row per distinct EVENT time:
    ``(t, n_risk, n_death, n_censor, surv)``, surv = Π_{u ≤ t}
    (1 − d_u/n_u).

    Determinism contract: the (duration → deaths, censored) cell table
    carries exact integer counts; at-risk counts come from one
    duration-ordered cumulative window (censored rows participate in
    n_risk but emit no output row); the survival products are
    prefix-folds over the time-sorted factor array — slice + aggregate
    on Spark, ``list_reduce(arr[1:i], (a,b) -> a*b)`` on DuckDB, equal
    bit-for-bit because 1.0·f ≡ f (the ewma/cusum fold-parity family).

    Scale: one row-level aggregate; everything after is bounded by
    DISTINCT DURATIONS (quantize unbounded durations upstream — hours/
    days, the value_cells contract).  The per-row prefix fold is
    O(V²) on the distinct-event-time table, never on rows."""
    cells = (
        df.filter(
            F.col(duration_col).isNotNull() & F.col(observed_col).isNotNull()
        )
        .select(
            F.col(duration_col).cast("long").alias("t"),
            F.col(observed_col).cast("boolean").alias("e"),
        )
        .groupBy("t")
        .agg(
            F.sum(F.col("e").cast("int")).cast("long").alias("d"),
            F.sum((~F.col("e")).cast("int")).cast("long").alias("c"),
        )
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wa = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risked = cells.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wa)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wt), F.lit(0))
        ).cast("long").alias("n_risk"),
    )
    death = risked.filter(F.col("d") > 0).select(
        "t",
        "n_risk",
        "d",
        "c",
        (
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ).alias("factor"),
    )
    g = death.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "n_risk", "d", "c", "factor"))
        ).alias("arr")
    )
    ex = g.select(
        "arr", F.posexplode("arr").alias("i", "x")
    )
    surv = F.aggregate(
        F.slice(F.col("arr"), 1, F.col("i") + 1),
        F.lit(1.0),
        lambda acc, s: acc * s["factor"],
    )
    return (
        ex.select(
            F.col("x.t").alias("t"),
            F.col("x.n_risk").alias("n_risk"),
            F.col("x.d").alias("n_death"),
            F.col("x.c").alias("n_censor"),
            F.round(surv, round_digits).alias("surv"),
        )
        .orderBy("t")
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative value column —
    the concentration/inequality readout (is revenue spread across
    events or piled on a few?).  Output ``(group, n, total, gini)``;
    0 = perfectly even, →1 = all mass on one row.  Negative values are
    filtered (the Lorenz construction needs a non-negative measure).

    Determinism contract: G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the
    ascending sort.  Values ride DECIMAL(18,2) cents so both Σx and the
    rank-weighted Σi·x₍ᵢ₎ are exact decimals — and Σi·x is TIE-STABLE:
    rows with equal x can permute their row_numbers freely without
    changing the sum (x factors out of each tie block), so the window's
    nondeterministic tie order cannot leak into the result.  The final
    combination runs in double from the exact components with one fixed
    expression shape on both engines.

    Scale: since r7 the rank work runs on the DISTINCT-VALUE cell table
    (:func:`value_cells`) instead of a per-row rank window: the Lorenz
    rank-weighted sum over a tie block of value v spanning rows
    cum+1..cum+c is exactly x·(c·cum + c·(c+1)/2) — the same tie-stable
    Σi·x the row formulation produced, now bounded by value cardinality
    (and shared with the streaming sketch: :func:`gini_from_cells`).
    """
    return gini_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def gini_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`gini_by_group` over a prebuilt
    (grp, v, c) cell table — negative values are filtered HERE (the
    Lorenz construction needs a non-negative measure), so one shared
    value-cell sketch can still feed it alongside ranksum/KS/Cliff's.

    The per-cell rank weight ``c·cum_prev + c·(c+1)/2`` is bounded by
    the group's rank sum n·(n+1)/2, so it must narrow to DECIMAL(18,0)
    (the widest weight the exact x·w product can carry within Spark's
    38-digit decimals) — that holds for n ≤ ~1.34e9 rows per group.
    Past that the narrowing would silently NULL under non-ANSI Spark
    and F.sum would skip the heaviest tie blocks (a WRONG gini, not a
    NULL one — the ols_trend silent-overflow class), so the weight is
    computed wide and guarded with raise_error first."""
    base = cells.filter(F.col("v") >= 0).select(
        "grp",
        F.col("v").cast("decimal(18,2)").alias("x"),
        "v",
        "c",
    )
    wv = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = base.select(
        "grp",
        "x",
        "c",
        F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long").alias("cum"),
    )
    w_wide = (
        F.col("c").cast("decimal(38,0)") * F.col("cum")
        + (
            F.col("c").cast("decimal(38,0)") * (F.col("c") + 1)
        ) / 2
    ).cast("decimal(38,0)")
    w = F.when(
        w_wide <= F.lit(999_999_999_999_999_999).cast("decimal(38,0)"),
        w_wide,
    ).otherwise(
        F.raise_error(
            F.lit(
                "gini_from_cells: Lorenz rank weight exceeds the "
                "DECIMAL(18,0) exactness bound (group larger than "
                "~1.34e9 rows) — shard the group or pre-aggregate"
            )
        ).cast("decimal(38,0)")
    ).cast("decimal(18,0)")
    agg = ranked.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("c").cast("decimal(18,0)")).alias("sx"),
        F.sum(F.col("x") * w).alias("six"),
    )
    num = (
        F.lit(2.0) * F.col("six").cast("double")
        - (F.col("n") + 1).cast("double") * F.col("sx").cast("double")
    )
    den = F.col("n").cast("double") * F.col("sx").cast("double")
    return (
        agg.select(
            F.col("grp").alias(group_col),
            "n",
            F.round(F.col("sx").cast("double"), 2).alias("total"),
            (
                F.round(F.when(F.col("sx") > 0, num / den), round_digits)
                + F.lit(0.0)
            ).alias("gini"),
        )
        .orderBy(group_col)
    )


def theil_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Theil T inequality index over STRICTLY POSITIVE
    values: T = (1/n)·Σ (x/μ)·ln(x/μ) ∈ [0, ln n] — the decomposable
    entropy complement to :func:`gini_by_group` (0 = perfectly even,
    ln n = all mass on one row).  Rows whose DECIMAL(18,2) cent value
    rounds to ≤ 0 are excluded (the ln needs a positive measure; the
    filter runs on cents so engine and oracle drop identical rows).
    Output ``(group, n, mean, theil)``; theil is NULL for empty groups
    after the filter (they simply have no row).

    Determinism contract: counts and Σx ride exact longs/decimals; μ is
    one double division; each cell term ``(c·(x/μ))·ln(x/μ)`` is one
    fixed double expression over the CENT-value cell (engine and
    oracle aggregate to the same cent cells), and the only
    order-sensitive float sum folds in ascending cent order — the
    oracle replays it with ``list_sum(list(t ORDER BY xd))``.

    Scale: the fold state is the per-group distinct-CENT list —
    bounded by value cardinality (quantize unbounded doubles upstream,
    the value_cells contract); one map-side-combined count over rows.
    """
    return theil_from_cells(
        value_cells(df, group_col, value_col), group_col, round_digits
    )


def theil_from_cells(
    cells: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`theil_by_group` over a prebuilt
    (grp, v, c) cell table (the value-cell streaming sketch); the
    positivity filter runs HERE, on cents."""
    cent = (
        cells.select(
            "grp", F.col("v").cast("decimal(18,2)").alias("xd"), "c"
        )
        .filter(F.col("xd") > 0)
        .groupBy("grp", "xd")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    agg = cent.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("xd") * F.col("c").cast("decimal(18,0)")).alias("sx"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("xd").cast("double").alias("x"),
                    F.col("c").cast("double").alias("cd"),
                )
            )
        ).alias("items"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("sx").cast("double") / nd
    fold = F.aggregate(
        F.col("items"),
        F.lit(0.0).cast("double"),
        lambda acc, it: acc + (it["cd"] * (it["x"] / mu)) * F.log(it["x"] / mu),
    )
    return (
        agg.select(
            F.col("grp").alias(group_col),
            "n",
            F.round(mu, round_digits).alias("mean"),
            (F.round(fold / nd, round_digits) + F.lit(0.0)).alias("theil"),
        )
        .orderBy(group_col)
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group winsorized mean: clamp values into the [p_lo, p_hi]
    EXACT order-statistic bounds, then average — the robust location
    estimate that keeps sample size (unlike trimming) while capping
    tail leverage.  Output ``(group, n, lo, hi, mean, wins_mean)``.

    Determinism contract: both bounds are actual sample values picked
    by row_number — lo = the ⌈lo_pct·n/100⌉-th smallest (floored at
    rank 1), hi = the ⌈hi_pct·n/100⌉-th — so no approx-percentile value
    error and no tie/aggregation-order sensitivity (the mad_outliers
    discipline).  Clamping and both sums run on DECIMAL(18,2) cents —
    exact whatever the partial-agg order — with one double division at
    the end.

    Scale: since r7 the order statistics come from the DISTINCT-VALUE
    cell table (:func:`value_cells`): the ⌈p·n/100⌉-th smallest row
    value is the smallest cell value whose cumulative count reaches
    that rank (the rounding cast double→cents is monotone, so the cent
    at a row rank equals the cent of the cell at that rank), and the
    clamped sums are Σc·clamp(x).  Bounded by value cardinality and
    shared with the streaming sketch (:func:`winsorized_from_cells`).
    """
    return winsorized_from_cells(
        value_cells(df, group_col, value_col),
        group_col,
        lo_pct=lo_pct,
        hi_pct=hi_pct,
        round_digits=round_digits,
    )


def winsorized_from_cells(
    cells: DataFrame,
    group_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`winsorized_stats` over a prebuilt
    (grp, v, c) cell table (the value-cell streaming sketch).

    One chain: the cumulative and total counts are windows over each
    group's v-sorted cells, then one aggregate.  The clamped sum needs
    no second pass: cum is monotone in v, so a cell lies below lo iff
    cum < lo_rank and above hi iff cum − c ≥ hi_rank, and Σc·clamp(x) =
    lo·(count below) + Σ_between c·x + hi·(count above), exact in
    DECIMAL."""
    wv = Window.partitionBy("grp").orderBy("v")
    ranked = cells.select(
        "grp",
        F.col("v").cast("decimal(18,2)").alias("x"),
        "c",
        F.sum("c")
        .over(wv.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
        F.sum("c")
        .over(wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long")
        .alias("nn"),
    )
    lo_rank = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"({lo_pct} * nn + 99) div 100"),
    )
    hi_rank = F.expr(f"({hi_pct} * nn + 99) div 100")
    above = F.col("cum") - F.col("c") >= hi_rank
    below = ~above & (F.col("cum") < lo_rank)
    cdec = F.col("c").cast("decimal(18,0)")
    # the rank-r row value = smallest cell value whose cum count >= r
    g = ranked.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.min(F.when(F.col("cum") >= lo_rank, F.col("x"))).alias("lo_d"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("x"))).alias("hi_d"),
        F.sum(F.col("x") * cdec).alias("sx"),
        F.sum(F.when(below, F.col("c")).otherwise(0)).alias("n_lo"),
        F.sum(F.when(~above & ~below, F.col("x") * cdec)).alias("s_mid"),
        F.sum(F.when(above, F.col("c")).otherwise(0)).alias("n_hi"),
    )
    # least(lo, hi): with lo > hi (lo_pct > hi_pct) every value clamps to
    # hi; the counts are exact longs, each product exact in DECIMAL
    sw = (
        F.least(F.col("lo_d"), F.col("hi_d")) * F.col("n_lo").cast("decimal(19,0)")
        + F.coalesce(F.col("s_mid"), F.lit(0).cast("decimal(18,2)"))
        + F.col("hi_d") * F.col("n_hi").cast("decimal(19,0)")
    )
    return (
        g.select(
            F.col("grp").alias(group_col),
            "n",
            F.col("lo_d").cast("double").alias("lo"),
            F.col("hi_d").cast("double").alias("hi"),
            F.round(
                F.col("sx").cast("double") / F.col("n").cast("double"),
                round_digits,
            ).alias("mean"),
            F.round(
                sw.cast("double") / F.col("n").cast("double"), round_digits
            ).alias("wins_mean"),
        )
        .orderBy(group_col)
    )


def kendall_tau_binned(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Kendall tau-b rank correlation over PRE-QUANTIZED
    integer (x, y) columns — the concordance complement to
    :func:`spearman_by_group` that stays exact and scalable by working
    on the joint (x, y) CELL table instead of row pairs: concordant /
    discordant pair counts are Σ c₁·c₂ over ordered cell pairs, tie
    corrections come from the marginals, and
    tau_b = (C − D) / √((n₀−n₁)·(n₀−n₂)) with n₀ = n(n−1)/2.  Output
    ``(group, n, concordant, discordant, tau)``; tau is NULL when
    either axis is constant.

    Determinism contract: every count is an exact integer; the n₀/n₁/n₂
    pair counts ride DECIMAL(38,0) (they exceed int64 past n ≈ 3·10⁹);
    only the final ratio is floating point, one expression shape on
    both engines.

    Scale: quantization IS the contract — the concordance count is
    O(cells²) per group, so feed bucketed columns (value div width,
    hour-of-day, deciles), never raw identifiers.  This trades the
    O(n log n) merge-sort inversion count (impossible to express
    declaratively) for exactness on the quantized statistic.  One chain:
    one per-group aggregate collects the cells, two explodes of that
    list make the group's ordered cell pairs, a per-cell aggregate sums
    each cell's partner counts, and a per-group one sums C, D and both
    tie terms — no self-join, no marginal branch.
    """
    dec = "decimal(38,0)"
    cells = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("grp"),
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    # every ORDERED cell pair (u, v), self pairs included, from two
    # explodes of the group's cell list.  Per cell u, long sums of the
    # partner counts (each ≤ n): v above-right / below-right of u (C and
    # D take x < x', so each unordered cross-x pair once; x-tied pairs
    # never contribute) and v in u's column / row, where Σ_u c·tx = Σ_x
    # tx², so the x tie term n1 = Σ_x tx(tx−1)/2 is (Σ_u c·tx − n)/2.
    # Then one DECIMAL sum per statistic over the cells.
    g = cells.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.collect_list(F.struct("x", "y", "c")).alias("__cells"),
    )
    u, v = F.col("u"), F.col("v")

    def partners(cond: Column) -> Column:
        return F.sum(F.when(cond, v["c"]).otherwise(F.lit(0))).cast("long")

    per_cell = (
        g.select("grp", "n", "__cells", F.explode("__cells").alias("u"))
        .select("grp", "n", "u", F.explode("__cells").alias("v"))
        .groupBy("grp", "n", "u")
        .agg(
            partners((u["x"] < v["x"]) & (u["y"] < v["y"])).alias("up"),
            partners((u["x"] < v["x"]) & (u["y"] > v["y"])).alias("down"),
            partners(u["x"] == v["x"]).alias("tx"),
            partners(u["y"] == v["y"]).alias("ty"),
        )
    )

    def total(m: str) -> Column:
        return F.sum(u["c"].cast(dec) * F.col(m).cast(dec)).cast(dec)

    def ties(m: str) -> Column:
        return ((total(m) - F.col("n").cast(dec)) / 2).cast(dec)

    j = per_cell.groupBy("grp", "n").agg(
        total("up").alias("cc"),
        total("down").alias("dd"),
        ties("tx").alias("n1"),
        ties("ty").alias("n2"),
    ).select(
        "grp",
        "n",
        "cc",
        "dd",
        ((F.col("n").cast(dec) * (F.col("n") - 1).cast(dec)) / 2)
        .cast(dec).alias("n0"),
        "n1",
        "n2",
    )
    d1 = (F.col("n0") - F.col("n1")).cast("double")
    d2 = (F.col("n0") - F.col("n2")).cast("double")
    tau = F.when(
        (F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2")),
        (F.col("cc") - F.col("dd")).cast("double") / F.sqrt(d1 * d2),
    )
    return (
        j.select(
            F.col("grp").alias(group_col),
            "n",
            F.col("cc").cast("long").alias("concordant"),
            F.col("dd").cast("long").alias("discordant"),
            (F.round(tau, round_digits) + F.lit(0.0)).alias("tau"),
        )
        .orderBy(group_col)
    )


def _count_inversions(arr) -> int:
    """Strict inversions via bottom-up merge sort; each merge counts
    cross pairs (l > r) as |L|·|R| − Σ searchsorted(L, r, right).
    O(n log n) comparisons, vectorized numpy merges — the imperative
    core of :func:`kendall_tau_exact`, module-level so the property
    tests can drive it against a brute-force pair loop directly."""
    import numpy as np

    a = arr.copy()
    n = a.size
    inv = 0
    width = 1
    while width < n:
        for lo in range(0, n - width, 2 * width):
            mid = lo + width
            hi = min(lo + 2 * width, n)
            left, right = a[lo:mid], a[mid:hi]
            inv += int(
                left.size * right.size
                - np.searchsorted(left, right, side="right").sum()
            )
            a[lo:hi] = np.sort(a[lo:hi], kind="stable")
        width *= 2
    return inv


def _run_tie_pairs(keys_sorted) -> int:
    """Σ c·(c−1)/2 over runs of equal values in a SORTED array."""
    import numpy as np

    if keys_sorted.size == 0:
        return 0
    change = np.flatnonzero(keys_sorted[1:] != keys_sorted[:-1])
    counts = np.diff(np.concatenate(([0], change + 1, [keys_sorted.size])))
    counts = counts.astype(object)
    return int((counts * (counts - 1) // 2).sum())


def _knight_counts(xs, ys) -> tuple:
    """Knight's tau-b integer core over two aligned value arrays:
    ``(concordant, discordant, n0, n1, n2)`` — exact whatever the row
    order (the lexsort canonicalizes it).  n1/n2 are the x/y tie pair
    counts; C = n0 − n1 − n2 + n3 − D with n3 the joint-tie pairs."""
    import numpy as np

    n = len(xs)
    order = np.lexsort((ys, xs))
    xs_s, ys_s = xs[order], ys[order]
    n0 = n * (n - 1) // 2
    n1 = _run_tie_pairs(xs_s)
    n2 = _run_tie_pairs(np.sort(ys, kind="stable"))
    # joint ties: runs where BOTH components repeat in lexsort order
    joint_change = (xs_s[1:] != xs_s[:-1]) | (ys_s[1:] != ys_s[:-1])
    runs = np.diff(
        np.concatenate(([0], np.flatnonzero(joint_change) + 1, [n]))
    ).astype(object)
    n3 = int((runs * (runs - 1) // 2).sum()) if n else 0
    d = _count_inversions(ys_s)
    c = n0 - n1 - n2 + n3 - d
    return c, d, n0, n1, n2


def kendall_tau_exact(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Kendall tau-b on RAW (unquantized) columns — exact
    concordant/discordant counts via Knight's O(n log n) algorithm
    (W. R. Knight, JASA 1966): sort by (x, y) and count strict
    inversions of the y sequence with a merge sort; discordant = the
    inversion count, concordant = n₀ − n₁ − n₂ + n₃ − D from the tie
    marginals.  Output ``(group, n, concordant, discordant, tau)``
    matching :func:`kendall_tau_binned`'s shape; tau is NULL when
    either axis is constant.

    This is the ONE batch operator that drops to ``applyInPandas``:
    pairwise inversion counting is not expressible in DataFrame
    algebra, and the declarative alternative (the cell self-join in
    :func:`kendall_tau_binned`) is O(cells²) — quadratic when values
    are near-unique.  The per-group compute is vectorized numpy
    (lexsort + bottom-up merge counting cross-inversions with
    searchsorted), O(n log n) time / O(n) memory.

    Scale contract: ONE GROUP'S ROWS must fit one executor (the same
    contract as any exact per-group rank statistic); groups process in
    parallel.  For unbounded groups use :func:`kendall_tau_binned`,
    where quantization bounds the state instead.

    Determinism: C, D and the tie pair-counts are exact integers
    whatever the row order (the lexsort canonicalizes Arrow's
    arbitrary group order); tau is ONE float expression from those
    integers, computed Spark-side so rounding semantics match the
    oracle (python's round() is half-even, SQL's is not).
    """
    import numpy as np
    import pandas as pd

    cond = (
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    for c in (x_col, y_col):
        if dict(df.dtypes)[c] in ("double", "float"):
            cond = cond & ~F.isnan(F.col(c))
    slim = df.filter(cond).select(
        F.col(group_col).alias("grp"), F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    grp_t = slim.schema["grp"].dataType.simpleString()
    out_schema = (
        f"grp {grp_t}, n long, concordant long, discordant long, "
        "d1 double, d2 double, cd double"
    )

    def _one_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        g = pdf["grp"].iloc[0]
        c, d, n0, n1, n2 = _knight_counts(
            pdf["x"].to_numpy(), pdf["y"].to_numpy()
        )
        return pd.DataFrame(
            {
                "grp": [g],
                "n": [len(pdf)],
                "concordant": [c],
                "discordant": [d],
                # exact integer differences, ONE rounding to double each
                "d1": [float(n0 - n1)],
                "d2": [float(n0 - n2)],
                "cd": [float(c - d)],
            }
        )

    stats = slim.groupBy("grp").applyInPandas(_one_group, out_schema)
    tau = F.when(
        (F.col("d1") > 0) & (F.col("d2") > 0),
        F.col("cd") / F.sqrt(F.col("d1") * F.col("d2")),
    )
    return (
        stats.select(
            F.col("grp").alias(group_col),
            "n",
            "concordant",
            "discordant",
            (F.round(tau, round_digits) + F.lit(0.0)).alias("tau"),
        )
        .orderBy(group_col)
    )


def _checked_daily_total(col: Column) -> Column:
    """Re-narrow a summed DECIMAL to (18,2) with a LOUD overflow guard —
    the ols_trend discipline: under non-ANSI Spark an overflowing cast
    silently NULLs, and downstream sums would then drop only the wide
    rows (a wrong statistic, not a NULL one).  The bound is 1e12, NOT
    the 1e16 the (18,2) type could hold: the consumers sum y² in
    DECIMAL(38,4) (34 integer digits), and 1e12² = 1e24 keeps Σy² in
    range for ≤ 10^9 days — a loud guard that only protects y while y²
    overflows silently would break its own promise."""
    return F.when(
        F.abs(col) < F.lit("1000000000000").cast("decimal(28,2)"),
        col.cast("decimal(18,2)"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "daily total exceeds the 1e12 exactness bound (its square"
                " must fit DECIMAL(38,4)) — pre-scale the value column"
            )
        ).cast("decimal(18,2)")
    )


def daily_totals(
    df: DataFrame, group_col: str, day_col: str, value_col: str
) -> DataFrame:
    """Shared (grp, day, y DECIMAL(18,2)) daily-total table for the
    time-series diagnostics (seasonal_strength, acf_by_group,
    xcorr_daily): the ONE corpus-sized shuffle; everything downstream
    runs on groups × days.  NULL groups are filtered like every sibling
    grouped diagnostic (the NULLS FIRST/LAST cross-engine sort
    divergence).

    Decimal sums are MONOTONE and merge by ADDITION, so on a streaming
    DataFrame this aggregate is the live sketch for the whole
    daily-series family, its state one decimal per observed
    (grp, day), bounded by groups × days — the histogram_buckets
    discipline: one live (grp, day, y) table feeds every
    ``*_from_daily`` finisher and :func:`cusum_from_daily`."""
    return (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(day_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("grp"),
            F.col(day_col).cast("long").alias("day"),
            F.col(value_col).cast("decimal(18,2)").alias("v"),
        )
        .groupBy("grp", "day")
        .agg(_checked_daily_total(F.sum("v")).alias("y"))
    )


def weekday_adjusted_outliers(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    k: float = 3.0,
    round_digits: int = 4,
) -> DataFrame:
    """Seasonality-corrected daily anomaly report: which OBSERVED days
    were unusual AFTER removing the weekly pattern?  Per group, each
    day's total is compared to its weekday's EXACT median
    (Mondays-to-Mondays), and the residuals get the MAD treatment —
    a day flags when |r − median(r)| > k·MAD(r).  Output one row per
    flagged day: ``(group, day, weekday, y, expected, residual)``,
    ordered by (group, day).  The raw-value twin of
    :func:`mad_outliers` for daily series whose level is dominated by
    day-of-week seasonality (weekend dips would otherwise flag every
    Saturday).

    Determinism contract: daily totals ride exact DECIMAL(18,2)
    (:func:`daily_totals`); every location estimate — the 7 per-weekday
    medians, the residual median, the residual MAD — is an exact order
    statistic via the shared ``_median_rank_filter`` selection, so
    nothing depends on tie or aggregation order; the flag compares
    unrounded doubles with one expression shape on both engines.

    Scale: the corpus-sized work is the ONE daily-total shuffle;
    everything downstream runs on groups × observed days (rank windows
    over that small table).  Missing days are NOT zero-filled — compose
    with :func:`gap_filled_daily` upstream if absence itself should
    flag."""
    return weekday_outliers_from_daily(
        daily_totals(df, group_col, day_col, value_col),
        group_col,
        k=k,
        round_digits=round_digits,
    )


def weekday_outliers_from_daily(
    totals: DataFrame,
    group_col: str,
    k: float = 3.0,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`weekday_adjusted_outliers` over a
    prebuilt (grp, day, y DECIMAL) daily-total table — e.g. the one
    :func:`daily_totals` maintains on a stream (the sketch's sixth
    report)."""
    # one shuffle by group: every median window and broadcast join below
    # runs on this partitioning, and each branch reuses the exchange
    daily = fresh_ids(totals).select(
        "grp",
        "day",
        ((F.col("day") + 4) % 7).cast("long").alias("wd"),
        F.col("y").cast("double").alias("yd"),
    ).repartition("grp")

    prof = _exact_median_by(
        daily.select("grp", "wd", "yd"), ["grp", "wd"], "yd", "expected"
    )
    resid = daily.join(F.broadcast(prof), ["grp", "wd"]).withColumn(
        "r", F.col("yd") - F.col("expected")
    )
    med_r = _exact_median_by(resid.select("grp", "r"), ["grp"], "r", "med_r")
    devs = resid.join(F.broadcast(med_r), "grp").withColumn(
        "dev", F.abs(F.col("r") - F.col("med_r"))
    )
    mad_r = _exact_median_by(devs.select("grp", "dev"), ["grp"], "dev", "mad_r")
    return (
        devs.join(F.broadcast(mad_r), "grp")
        .filter(F.col("dev") > F.lit(float(k)) * F.col("mad_r"))
        .select(
            F.col("grp").alias(group_col),
            "day",
            F.col("wd").alias("weekday"),
            (F.round(F.col("yd"), 2) + F.lit(0.0)).alias("y"),
            (F.round(F.col("expected"), round_digits) + F.lit(0.0)).alias(
                "expected"
            ),
            (F.round(F.col("r"), round_digits) + F.lit(0.0)).alias(
                "residual"
            ),
        )
        .orderBy(group_col, "day")
    )


def seasonal_strength(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    period: int = 7,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group seasonal-strength decomposition of the daily value
    series: how much of the day-to-day variance is explained by the
    day's PHASE in a ``period``-day cycle (weekday effects at period=7)?
    Output ``(group, n_days, sst, ssw, strength)`` with

        strength = max(0, 1 − SSW/SST)   (Hyndman's F_s with the phase
                                          means as the seasonal component)

    — the one-way ANOVA eta² of the phase grouping: 0 = no seasonality,
    →1 = the cycle explains everything.  SST is the total sum of squares
    of the daily totals, SSW the within-phase remainder.

    Determinism contract: daily totals ride DECIMAL(18,2) (loud overflow
    guard), so every per-phase moment (n_w, Σy, Σy²) is exact under any
    partial-aggregation order.  Each phase's remainder term
    ``Σy² − (Σy)²/n_w`` is ONE fixed double expression from exact
    components, and SSW folds those terms in phase order
    (array_sort + aggregate ≡ DuckDB ``list_sum(list(t ORDER BY
    phase))`` — the embedding_covariance fold-parity family), so the
    sum is bit-identical on both engines.  strength is NULL when SST ≤ 0
    (constant series; the guard fires before the division).

    Scale: one map-side-combined (group, day) aggregate over the corpus,
    then group × period cells — dashboard-sized.  Phase is ``day %
    period`` (days must be non-negative; epoch days are).  No calendar
    anchor is exposed: a constant shift only RELABELS the residue
    classes without changing the partition, so the statistic is
    shift-invariant — an operator exposing per-phase means would need
    one (epoch day 0 is a Thursday), this one does not.
    """
    return seasonal_from_daily(
        daily_totals(df, group_col, day_col, value_col),
        group_col,
        period,
        round_digits,
    )


def seasonal_from_daily(
    daily: DataFrame,
    group_col: str,
    period: int = 7,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`seasonal_strength` over a PREBUILT
    (grp, day, y) daily-total table — e.g. one maintained incrementally
    by :func:`daily_totals` on a stream (the quantiles_from_histogram
    split)."""
    daily = daily.select(
        "grp",
        (F.col("day") % F.lit(int(period))).alias("phase"),
        "y",
    )
    cells = daily.groupBy("grp", "phase").agg(
        F.count("*").cast("long").alias("nw"),
        F.sum("y").alias("sw"),
        F.sum(F.col("y") * F.col("y")).alias("ssq"),
    )
    term = (
        F.col("ssq").cast("double")
        - F.col("sw").cast("double")
        * F.col("sw").cast("double")
        / F.col("nw").cast("double")
    )
    g = cells.select("grp", "phase", "nw", "sw", "ssq", term.alias("t")).groupBy(
        "grp"
    ).agg(
        F.sum("nw").cast("long").alias("n_days"),
        F.sum("sw").alias("s"),
        F.sum("ssq").alias("q"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("phase", "t"))),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["t"],
        ).alias("ssw"),
    )
    sst = (
        F.col("q").cast("double")
        - F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n_days").cast("double")
    )
    strength = F.when(
        sst > 0,
        F.greatest(F.lit(0.0), F.lit(1.0) - F.col("ssw") / sst),
    )
    return (
        g.select(
            F.col("grp").alias(group_col),
            "n_days",
            (F.round(sst, round_digits) + F.lit(0.0)).alias("sst"),
            (F.round(F.col("ssw"), round_digits) + F.lit(0.0)).alias("ssw"),
            F.round(strength, round_digits).alias("strength"),
        )
        .orderBy(group_col)
    )


def acf_by_group(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    max_lag: int = 7,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group autocorrelation of the GAP-FILLED daily value series at
    lags 1..max_lag: ``(group, lag, n_pairs, acf)`` where acf is the
    Pearson correlation between the series and its lag-k shift (the
    lag-Pearson ACF variant — each lag standardizes over its own paired
    subseries, so every moment is exact).  |acf| spikes at lag 7 = weekly
    rhythm; slow decay = trending series (pair with ``ols_trend``).

    Missing days are materialized as 0.00 rows first (a day with no
    events is a real zero in the series, not an absent observation —
    skipping gaps would silently misalign every lag), on the global
    [min, max] day span so all groups share one spine
    (:func:`_global_span_spine`, the gap_filled_daily machinery).
    Lags ≥ the span length have no pairs and emit NO row (not
    n_pairs=0) — guard lookups by lag on short series.

    Determinism contract: daily totals ride DECIMAL(18,2) (loud
    overflow guard), the five paired moments (Σa, Σb, Σab, Σa², Σb²)
    are exact decimals, and the Pearson combination runs in double from
    those exact components with ONE expression shape on both engines;
    both variance guards fire BEFORE the sqrt (exact moments can still
    cancel to a tiny negative double on a constant subseries).

    Scale: one corpus-sized (group, day) aggregate; the spine is groups
    × days (dashboard-sized).
    """
    return acf_from_daily(
        daily_totals(df, group_col, day_col, value_col),
        group_col,
        max_lag,
        round_digits,
    )


def acf_from_daily(
    daily: DataFrame,
    group_col: str,
    max_lag: int = 7,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`acf_by_group` over a PREBUILT
    (grp, day, y) daily-total table — the SAME table
    :func:`daily_totals` maintains on a stream, so one streaming
    sketch serves the whole daily-series diagnostic family."""
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    spine = fresh_ids(
        _global_span_spine(
            daily.withColumnRenamed("y", "val"),
            F.lit("0.00").cast("decimal(18,2)"),
        ).select("grp", "day", F.col("val").alias("y"))
    )
    lags = F.broadcast(
        daily.sparkSession.range(1, int(max_lag) + 1).select(
            F.col("id").cast("long").alias("lag")
        )
    )
    a = spine.crossJoin(lags).select(
        "grp",
        "lag",
        (F.col("day") + F.col("lag")).alias("db"),
        F.col("y").alias("ya"),
    )
    b = spine.select(
        F.col("grp"), F.col("day").alias("db"), F.col("y").alias("yb")
    )
    m = (
        a.join(b, ["grp", "db"])
        .groupBy("grp", "lag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("ya").alias("sa"),
            F.sum("yb").alias("sb"),
            F.sum(F.col("ya") * F.col("ya")).alias("saa"),
            F.sum(F.col("yb") * F.col("yb")).alias("sbb"),
            F.sum(F.col("ya") * F.col("yb")).alias("sab"),
        )
    )
    n_d = F.col("n").cast("double")
    sa_d = F.col("sa").cast("double")
    sb_d = F.col("sb").cast("double")
    num = n_d * F.col("sab").cast("double") - sa_d * sb_d
    dena = n_d * F.col("saa").cast("double") - sa_d * sa_d
    denb = n_d * F.col("sbb").cast("double") - sb_d * sb_d
    acf = F.when((dena > 0) & (denb > 0), num / F.sqrt(dena * denb))
    return (
        m.select(
            F.col("grp").alias(group_col),
            "lag",
            F.col("n").alias("n_pairs"),
            (F.round(acf, round_digits) + F.lit(0.0)).alias("acf"),
        )
        .orderBy(group_col, "lag")
    )


def wilson_by_group(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group binomial proportion with its Wilson score interval:
    ``(group, n, successes, rate, lo, hi)`` — the proportion sibling of
    :func:`ab_test_report`'s mean test.  Wilson (1927) beats the normal
    ("Wald") interval at small n and extreme rates: it never leaves
    [0, 1] and stays calibrated at p near 0 or 1, which is exactly where
    conversion/defect monitoring lives.

    Determinism contract: the only inputs are the exact counts (n, s);
    the interval arithmetic is ONE fixed double expression from those
    counts — center ``(p + z²/2n) / (1 + z²/n)``, half-width
    ``z·√(p(1−p)/n + z²/4n²) / (1 + z²/n)`` — so both engines agree
    bit-for-bit.  The sqrt argument is nonnegative by construction
    (p = s/n ∈ [0, 1] exactly in IEEE since s ≤ n).

    Scale: one map-side-combined count aggregate; group-count-sized
    output.
    """
    agg = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(success_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col(success_col), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("s"),
        )
    )
    return _wilson_select(agg, group_col, z, round_digits).orderBy(group_col)


def _wilson_select(
    agg: DataFrame, group_col: str, z: float, round_digits: int, *carry: str
) -> DataFrame:
    """:func:`wilson_by_group`'s report from its (grp, n, s) count table;
    ``carry`` columns ride along after ``hi``."""
    zd = F.lit(float(z))
    n_d = F.col("n").cast("double")
    p = F.col("s").cast("double") / n_d
    z2 = zd * zd
    denom = F.lit(1.0) + z2 / n_d
    center = (p + z2 / (F.lit(2.0) * n_d)) / denom
    half = (
        zd
        * F.sqrt(
            p * (F.lit(1.0) - p) / n_d
            + z2 / (F.lit(4.0) * n_d * n_d)
        )
        / denom
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        F.col("s").alias("successes"),
        F.round(p, round_digits).alias("rate"),
        (F.round(center - half, round_digits) + F.lit(0.0)).alias("lo"),
        F.round(center + half, round_digits).alias("hi"),
        *carry,
    )


def xcorr_daily(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Pairwise Pearson correlation between every two groups' GAP-FILLED
    daily value series, ``(group_a, group_b, n_days, corr)`` — which
    metrics co-move day to day?  The cross-series sibling of
    :func:`acf_by_group` (which correlates a series with its own past):
    near +1 = the two groups rise and fall together, near −1 = they
    trade off.

    Both series live on the shared global-span spine with missing days
    as real 0.00 rows (:func:`_global_span_spine`), so every pair is
    aligned over the SAME n_days and no pair is silently dropped.

    Determinism contract: daily totals ride DECIMAL(18,2) (loud
    overflow guard), the per-pair Σa·b and per-group Σy/Σy² are exact
    decimals, and the Pearson combination is ONE fixed double
    expression with both variance guards firing BEFORE the sqrt
    (constant series → NULL corr).

    Scale: one corpus-sized (group, day) aggregate; the pair stage
    enumerates group pairs IN-ROW per day (``pairs_from_sorted_groups``
    — no derived-table self-join), so state is days × group-pairs,
    bounded by group cardinality², never rows.  For open-ended group
    columns, pre-bucket upstream (the ks/chi2 contract).
    """
    return xcorr_from_daily(
        daily_totals(df, group_col, day_col, value_col), round_digits
    )


def xcorr_from_daily(
    daily: DataFrame,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`xcorr_daily` over a PREBUILT
    (grp, day, y) daily-total table — the SAME table
    :func:`daily_totals` maintains on a stream (output columns are
    fixed ``group_a``/``group_b``, so no group name is needed)."""
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    spine = fresh_ids(
        _global_span_spine(
            daily.withColumnRenamed("y", "val"),
            F.lit("0.00").cast("decimal(18,2)"),
        ).select("grp", "day", F.col("val").alias("y"))
    )
    pg = spine.groupBy("grp").agg(
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    per_day = spine.groupBy("day").agg(
        F.array_sort(F.collect_list(F.struct("grp", "y"))).alias("ds")
    )
    pr = pairs_from_sorted_groups(
        per_day, "ds", carry=("day",), distinct=False
    ).select(
        F.col("id_a.grp").alias("a"),
        F.col("id_a.y").alias("ya"),
        F.col("id_b.grp").alias("b"),
        F.col("id_b.y").alias("yb"),
    )
    m = (
        pr.groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("ya") * F.col("yb")).alias("sab"),
        )
        .join(
            F.broadcast(
                pg.select(
                    F.col("grp").alias("a"),
                    F.col("s").alias("sa"),
                    F.col("ss").alias("saa"),
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                pg.select(
                    F.col("grp").alias("b"),
                    F.col("s").alias("sb"),
                    F.col("ss").alias("sbb"),
                )
            ),
            "b",
        )
    )
    n_d = F.col("n").cast("double")
    sa_d = F.col("sa").cast("double")
    sb_d = F.col("sb").cast("double")
    num = n_d * F.col("sab").cast("double") - sa_d * sb_d
    dena = n_d * F.col("saa").cast("double") - sa_d * sa_d
    denb = n_d * F.col("sbb").cast("double") - sb_d * sb_d
    corr = F.when((dena > 0) & (denb > 0), num / F.sqrt(dena * denb))
    return (
        m.select(
            F.col("a").alias("group_a"),
            F.col("b").alias("group_b"),
            F.col("n").alias("n_days"),
            (F.round(corr, round_digits) + F.lit(0.0)).alias("corr"),
        )
        .orderBy("group_a", "group_b")
    )


def interarrival_stats(
    df: DataFrame,
    group_col: str,
    key_col: str,
    ts_col: str,
    order_cols: tuple[str, ...] = (),
    round_digits: int = 4,
) -> DataFrame:
    """Per-group inter-arrival time profile: gaps between CONSECUTIVE
    events inside each (group, key) stream, reported as
    ``(group, n_gaps, mean_gap, median_gap, p90_gap)`` — the cadence
    readout behind rate-limit tuning, bot detection ("sub-second gaps"),
    and session-timeout choices (pair with ``sessionize``: pick the
    timeout where p90 sits).

    Determinism contract: each stream orders by ``(ts, *order_cols)`` —
    pass a tiebreaker (event id) if timestamps can collide, exactly as
    :func:`event_transitions` does.  Gaps are exact integer differences;
    median and p90 are EXACT order statistics picked by row_number over
    the gap sort (the mad_outliers discipline — value error cannot creep
    in the way approx_percentile's rank bound allows): median = the
    middle gap (odd n) or the two middle gaps' sum / 2.0 (even n), p90 =
    the gap at rank ceil(0.9·n).  Ties among equal gaps rank
    arbitrarily but the SELECTED VALUE is the same either way.  mean is
    one double division of exact BIGINTs.  Groups with no consecutive
    pair in any stream have no gaps and are OMITTED from the output.

    Scale: the lag window partitions by (group, key) — each stream
    sorts inside its own partition.  The rank window partitions by
    group over the GAP table; like mad_outliers this assumes per-group
    gap counts fit a partition's sort — sample or pre-bucket upstream
    past ~10⁸ gaps/group.
    """
    w = Window.partitionBy("grp", "k").orderBy("ts", *order_cols)
    gaps = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("grp"),
            F.col(key_col).alias("k"),
            F.col(ts_col).cast("long").alias("ts"),
            *order_cols,
        )
        .withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.col("grp").alias(group_col),
            (F.col("ts") - F.col("prev")).alias("gap"),
        )
    )
    return interarrival_from_gaps(gaps, group_col, round_digits)


def interarrival_from_gaps(
    gaps: DataFrame,
    group_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`interarrival_stats` over a PREBUILT
    (group_col, gap) table — e.g. the append stream of gaps
    ``streaming/interarrival.gap_stream`` extracts with per-stream
    last-ts state (gap rows are immutable facts, so the streaming twin
    is append-mode, not a re-aggregated sketch)."""
    wr = Window.partitionBy("grp").orderBy("gap")
    ranked = (
        gaps.select(F.col(group_col).alias("grp"), "gap")
        .withColumn("rn", F.row_number().over(wr))
    )
    counts = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s"),
    )
    j = ranked.join(F.broadcast(counts), "grp")
    # integer rank arithmetic: Spark `/` on longs is DOUBLE division
    # (rn == 9.9 never matches) — `div` truncates, and operands are
    # positive so it agrees with DuckDB's flooring `//`.  One rank
    # window serves BOTH the median and the p90 selections (using
    # mad_outliers' _exact_median helper here would add a second
    # window over the same gap table).
    med = (
        j.filter(_median_rank_filter("rn", "n"))
        .groupBy("grp")
        .agg(
            (F.sum("gap").cast("double") / F.count("*").cast("double")).alias(
                "median_gap_raw"
            )
        )
    )
    p90 = j.filter(F.col("rn") == F.expr("(9 * n + 9) div 10")).select(
        "grp", F.col("gap").alias("p90_gap_raw")
    )
    return (
        counts.join(F.broadcast(med), "grp")
        .join(F.broadcast(p90), "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("n").alias("n_gaps"),
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double"),
                round_digits,
            ).alias("mean_gap"),
            F.round(F.col("median_gap_raw"), round_digits).alias("median_gap"),
            F.col("p90_gap_raw").cast("long").alias("p90_gap"),
        )
        .orderBy(group_col)
    )


def robust_trend(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Mann-Kendall trend test + Theil-Sen slope over the
    daily value series: ``(group, n_days, s, z, sen_slope)`` — the
    robust sibling of :func:`ols_trend` (which a single spike day can
    drag): S counts concordant-minus-discordant day pairs, z is the
    tie-corrected normal statistic (|z| ≳ 1.96 = monotone trend at 5%),
    and sen_slope is the MEDIAN of all pairwise slopes — outlier days
    change a few pairs, not the answer.

    Determinism contract: daily totals ride DECIMAL(18,2) (loud
    overflow guard) so every pairwise difference is exact; S and the
    tie counts are exact BIGINTs (the variance's n(n−1)(2n+5) products
    ride DECIMAL(38,0) — they pass int64 near n ≈ 2M days); each pair
    slope is ONE double division of exact components, and the median
    slope is an EXACT order statistic via the shared
    ``_median_rank_filter`` rank selection (tie-invariant).  z applies
    the standard continuity correction ((S−1)/σ, (S+1)/σ, 0) and is
    NULL when the variance is ≤ 0 (a constant series).  Groups with a
    single observed day have no pairs and are OMITTED from the output
    (the interarrival_stats omission contract).

    Scale: one corpus-sized (group, day) aggregate, then day pairs
    enumerated IN-ROW from each group's sorted (day, y) array (the
    group-and-enumerate pattern — no daily-table self-join).  Pair
    count is days²-bounded per group: dashboard-sized for daily series
    (a decade ≈ 6.7M pairs); pre-aggregate to weeks/months upstream for
    century-scale spans.
    """
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    daily = daily_totals(df, group_col, day_col, value_col)
    grouped = daily.groupBy("grp").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("ds")
    )
    pr = pairs_from_sorted_groups(
        grouped, "ds", carry=("grp",), distinct=False
    ).select(
        "grp",
        F.col("id_a.day").alias("da"),
        F.col("id_a.y").alias("ya"),
        F.col("id_b.day").alias("db"),
        F.col("id_b.y").alias("yb"),
    )
    # ascending-day pairs: sign(yb - ya) over an exact decimal diff
    sgn = F.when(F.col("yb") > F.col("ya"), F.lit(1)).when(
        F.col("yb") < F.col("ya"), F.lit(-1)
    ).otherwise(F.lit(0))
    slope = (F.col("yb") - F.col("ya")).cast("double") / (
        F.col("db") - F.col("da")
    ).cast("double")
    pairs = pr.select("grp", sgn.alias("sg"), slope.alias("sl"))
    stat = pairs.groupBy("grp").agg(
        F.sum("sg").cast("long").alias("s"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    # tie correction needs per-VALUE tie counts from the daily table
    dec = "decimal(38,0)"
    ties = (
        daily.groupBy("grp", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("grp")
        .agg(
            F.sum("t").cast("long").alias("n"),
            F.sum(
                F.col("t").cast(dec)
                * (F.col("t") - 1).cast(dec)
                * (2 * F.col("t") + 5).cast(dec)
            ).alias("tsum"),
        )
    )
    wr = Window.partitionBy("grp").orderBy("sl")
    ranked = pairs.select(
        "grp", "sl", F.row_number().over(wr).alias("rn")
    ).join(F.broadcast(stat.select("grp", F.col("n_pairs").alias("np"))), "grp")
    sen = (
        ranked.filter(_median_rank_filter("rn", "np"))
        .groupBy("grp")
        .agg(
            (F.sum("sl") / F.count("*").cast("double")).alias("sen_raw")
        )
    )
    j = stat.join(F.broadcast(ties), "grp").join(F.broadcast(sen), "grp")
    nd = F.col("n").cast(dec)
    var = (
        nd * (nd - 1) * (2 * nd + 5) - F.col("tsum")
    ).cast("double") / F.lit(18.0)
    z = F.when(
        var > 0,
        F.when(
            F.col("s") > 0, (F.col("s").cast("double") - F.lit(1.0)) / F.sqrt(var)
        )
        .when(
            F.col("s") < 0, (F.col("s").cast("double") + F.lit(1.0)) / F.sqrt(var)
        )
        .otherwise(F.lit(0.0)),
    )
    return (
        j.select(
            F.col("grp").alias(group_col),
            F.col("n").alias("n_days"),
            "s",
            (F.round(z, round_digits) + F.lit(0.0)).alias("z"),
            (F.round(F.col("sen_raw"), round_digits) + F.lit(0.0)).alias(
                "sen_slope"
            ),
        )
        .orderBy(group_col)
    )


def holt_smooth(
    df: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Holt double-exponential smoothing of the GAP-FILLED
    daily value series: ``(group, n_days, level, trend, forecast)`` —
    the trend-aware sibling of :func:`ewma_smooth` (which tracks level
    only and lags a drifting series).  ``forecast`` is the one-step-
    ahead ``level + trend``; a sustained positive ``trend`` is the
    "this metric is climbing" readout with the day-over-day slope
    already denoised.

        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        (l_0 = y_0, b_0 = 0)

    Missing days are real 0.00 rows on the global span (Holt assumes
    regular spacing — skipping gaps would stretch time), exactly as
    :func:`acf_by_group`.

    Determinism contract: the recursion is a LEFT FOLD over the
    day-sorted series with a TWO-FIELD STRUCT accumulator, replayed
    bit-for-bit by a DuckDB recursive CTE carrying (l, b) as plain
    columns (the event_pagerank machinery — NOT list_reduce: DuckDB
    1.0 struct-literal lambdas alias ``acc.field`` references to the
    UPDATED value across fields, silently corrupting any two-state
    fold).  l_t appears inside b_t's update; both engines inline the
    identical l_t expression twice, so the doubles agree.  α/β enter
    as exact repr literals (the CAST('…' AS DOUBLE) discipline).

    Scale: one corpus-sized (group, day) aggregate, then one in-row
    fold per group over its day array — state is the series length,
    bounded by the day span (the ewma_daily contract).
    """
    return holt_from_daily(
        daily_totals(df, group_col, day_col, value_col),
        group_col,
        alpha,
        beta,
        round_digits,
    )


def holt_from_daily(
    daily: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    round_digits: int = 4,
) -> DataFrame:
    """The finisher half of :func:`holt_smooth` over a PREBUILT
    (grp, day, y) daily-total table — the SAME table
    :func:`daily_totals` maintains on a stream."""
    a = F.lit(float(alpha))
    b = F.lit(float(beta))
    one = F.lit(1.0)
    spine = _global_span_spine(
        daily.withColumnRenamed("y", "val"),
        F.lit("0.00").cast("decimal(18,2)"),
    ).select("grp", "day", F.col("val").cast("double").alias("y"))
    grouped = spine.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda x: F.struct(
                x["y"].alias("l"), F.lit(0.0).cast("double").alias("b")
            ),
        ).alias("__a"),
    )

    def step(acc, x):
        l_new = a * x["l"] + (one - a) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (
                b * ((a * x["l"] + (one - a) * (acc["l"] + acc["b"])) - acc["l"])
                + (one - b) * acc["b"]
            ).alias("b"),
        )

    folded = grouped.select(
        "grp",
        "n_days",
        F.aggregate(
            F.slice(F.col("__a"), 2, F.greatest(F.size("__a") - 1, F.lit(0))),
            F.element_at(F.col("__a"), 1),
            step,
        ).alias("hw"),
    )
    return (
        folded.select(
            F.col("grp").alias(group_col),
            "n_days",
            (F.round(F.col("hw.l"), round_digits) + F.lit(0.0)).alias("level"),
            (F.round(F.col("hw.b"), round_digits) + F.lit(0.0)).alias("trend"),
            (
                F.round(F.col("hw.l") + F.col("hw.b"), round_digits)
                + F.lit(0.0)
            ).alias("forecast"),
        )
        .orderBy(group_col)
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
    z: float = 1.96,
    round_digits: int = 4,
) -> DataFrame:
    """Classifier reliability diagram: bucket rows into score-rank
    deciles (:func:`rank_buckets` — exact integer bucketing, no global
    sort) and report each bucket's actual positive rate with its Wilson
    interval (:func:`wilson_by_group`) plus the bucket's score range:
    ``(bucket, n, successes, rate, lo, hi, min_score, max_score)``.
    A calibrated ranker shows rate climbing with bucket; a flat curve
    means the score carries no signal for this label — run it on the
    quality classifier vs the rule gate before trusting a cutoff.

    Determinism contract: buckets are exact integer rank arithmetic
    over the distinct-score table; counts are exact; the Wilson
    interval is one fixed double expression; min/max score are order
    statistics.  Pure composition — every guarantee inherits from the
    two building blocks.

    Scale: one chain — a distinct-score count with the label's positive
    count beside it, the bucket window over that table, then one
    bucket-sized aggregate; nothing sorts the corpus.
    """
    per_score = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.count("*").cast("long").alias("__c"),
            F.sum(F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("__p"),
        )
    )
    agg = (
        _score_buckets(per_score, n_buckets, "grp")
        .groupBy("grp")
        .agg(
            # a sum over a non-empty bucket is never NULL; the coalesce
            # keeps n non-nullable, as wilson_by_group's count(*) is
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n"),
            F.sum("__p").cast("long").alias("s"),
            F.min("__s").alias("min_score"),
            F.max("__s").alias("max_score"),
        )
    )
    return _wilson_select(
        agg, "bucket", z, round_digits, "min_score", "max_score"
    ).orderBy("bucket")


def auc_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Binary ranking AUC of ``score`` for ``label`` via the EXACT
    Mann-Whitney identity AUC = U⁺/(n⁺·n⁻): one row
    ``(n_pos, n_neg, auc)`` — the threshold-free companion of
    :func:`calibration_report` (calibration asks "are the rates right
    per bucket?", AUC asks "does the score rank positives above
    negatives at all?").  Ties get the standard 0.5 credit (that is
    what the rank-based U does).

    Determinism contract: inherited wholesale from
    :func:`ranksum_from_cells` — doubled average ranks from the
    distinct-score count table make U an exact half-integer, and the
    final AUC is ONE double division of exact components.  NULL auc
    when either class is empty.

    Scale: one (label, score) count, then everything runs on the
    distinct-score table (the value_cells contract — quantize unbounded
    scores upstream if their cardinality is unbounded).
    """
    # value_cells applies the NULL filters; U stays at 4dp (an exact
    # half-integer, so that rounding is the identity) regardless of the
    # caller's round_digits — only the final auc is caller-rounded.  The
    # positive-class pick reads n, so it stays above the aggregate: a
    # filter on the group key alone would be pushed below it and build
    # the value cells a second time.
    r = ranksum_from_cells(
        value_cells(df, label_col, score_col), label_col, 4
    ).filter(F.when(F.col("n") >= 0, F.col(label_col) == F.lit(True)))
    auc = F.when(
        (F.col("n") > 0) & (F.col("n_rest") > 0),
        F.col("u")
        / (F.col("n").cast("double") * F.col("n_rest").cast("double")),
    )
    return r.select(
        F.col("n").alias("n_pos"),
        F.col("n_rest").alias("n_neg"),
        F.round(auc, round_digits).alias("auc"),
    )


def average_precision_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_digits: int = 4,
) -> DataFrame:
    """Step-interpolated average precision — the PR-curve companion of
    :func:`auc_report` (ROC-AUC is prevalence-blind; on a heavily
    imbalanced gate AP is the honest ranking number): AP = Σ_n (R_n −
    R_{n−1})·P_n over distinct score thresholds descending — the
    scikit-learn ``average_precision_score`` definition, which (unlike
    trapezoidal PR-AUC) never linearly interpolates precision.  Tie
    handling is therefore EXACT and order-free: all rows sharing a
    score enter at one threshold, so no doc-order tie-break exists to
    pin.

    One row ``(n_pos, n_neg, n_thresholds, ap)``; ap NULL when there
    are no positives (never a clamp — the conformal convention).

    Determinism: the threshold cells carry exact integer (pos, tot)
    counts and exact cumulative TP/N from a distinct-score window; the
    per-threshold term (pos/R)·(TP/N) is the only float, and the terms
    are summed in a score-DESCENDING sorted-list fold (distinct-
    score-bounded, the value-cell discipline) that DuckDB replays with
    ``list_sum(list(...) ORDER BY s DESC)``.

    Scale: everything after the first aggregate runs on the
    distinct-score table — quantize unbounded-cardinality scores
    upstream (the value_cells contract)."""
    cells = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(
            F.col(score_col).alias("s"),
            F.col(label_col).cast("boolean").cast("int").alias("y"),
        )
        .groupBy("s")
        .agg(
            F.sum("y").cast("long").alias("pos"),
            F.count("*").cast("long").alias("tot"),
        )
    )
    return ap_from_cells(cells, round_digits=round_digits)


def ap_from_cells(
    cells: DataFrame,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`average_precision_report` over a
    PREBUILT (s, pos, tot) threshold-cell table — also serves the
    calibration sketch's AP report (:func:`finalize_ap`), where ``s``
    is the probability bucket: AP of the BUCKET-QUANTIZED ranking,
    exact for 4dp scores binned at their own resolution (the
    kendall_tau_binned quantization-is-the-contract discipline)."""
    wd = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.withColumn("tp", F.sum("pos").over(wd)).withColumn(
        "nn", F.sum("tot").over(wd)
    )
    agg = cum.agg(
        F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("r_tot"),
        F.coalesce(F.sum("tot"), F.lit(0)).cast("long").alias("n_tot"),
        F.count("*").cast("long").alias("n_thresholds"),
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("s").alias("s"),
                        F.col("pos").alias("pos"),
                        F.col("tp").alias("tp"),
                        F.col("nn").alias("nn"),
                    )
                )
            )
        ).alias("arr"),
    )
    ap = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc
        + (x["pos"].cast("double") / F.col("r_tot").cast("double"))
        * (x["tp"].cast("double") / x["nn"].cast("double")),
    )
    return agg.select(
        F.col("r_tot").alias("n_pos"),
        (F.col("n_tot") - F.col("r_tot")).alias("n_neg"),
        "n_thresholds",
        F.round(
            F.when(F.col("r_tot") > 0, ap), round_digits
        ).alias("ap"),
    )


def finalize_ap(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Average precision of the BUCKET-QUANTIZED ranking from a
    :func:`calibration_cells` table — the third report off that sketch
    (after :func:`ece_from_cells` and :func:`brier_from_cells`): the
    live "is the gate's ranking power drifting?" readout next to ECE's
    "are its probabilities still honest?".  The bucket index is the
    score."""
    return ap_from_cells(
        cells.select(
            F.col("bucket").alias("s"), "pos", F.col("n").alias("tot")
        ),
        round_digits=round_digits,
    )


def cohen_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    round_digits: int = 4,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two categorical
    labelings of the same rows (Cohen 1960): κ = (p_o − p_e)/(1 − p_e)
    with p_o the observed agreement rate and p_e the chance-agreement
    rate Σ_k (rt_k/n)(ct_k/n) from the two marginals — the
    chance-corrected answer to "do the rule gate and the classifier
    gate actually agree?", where raw accuracy is inflated whenever one
    label dominates.  One row
    ``(n, n_rows, n_cols, po, pe, kappa)``; κ = 1 is perfect
    agreement, 0 is chance level, negative is systematic DISagreement.

    The two rater columns must share a type (their labels are compared
    with ``=`` for the diagonal and p_e); any two numeric types pass.
    Other mixed types raise ``ValueError`` when the plan is built.

    Determinism contract (the chi2_independence discipline): the
    contingency table, both marginals, the diagonal mass, and the
    chance mass Σ rt_k·ct_k are all exact integers (products computed
    in DECIMAL(38,0) — BIGINT² ≈ 8.5e37 always fits); κ is then ONE
    double division of exact components,
    (n·agree − pe_num)/(n² − pe_num) — no float reduction anywhere.
    NULL statistics on empty input; κ NULL when p_e = 1 (both raters
    constant and equal — agreement is undefined, not perfect).

    Scale: one map-side-combined count bounded by the label-domain
    product, then everything runs on the contingency table.
    """
    return kappa_from_cells(
        contingency_cells(df, rater_a, rater_b), round_digits=round_digits
    )


def kappa_from_cells(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Finisher half of :func:`cohen_kappa` over a prebuilt (r, c, o)
    contingency table (the contingency streaming sketch — kappa is the
    sketch's agreement report next to chi2/V/MI's association ones)."""
    rt, ct = (cells.schema[k].dataType for k in ("r", "c"))
    if rt != ct and not (isinstance(rt, NumericType) and isinstance(ct, NumericType)):
        raise ValueError(
            "kappa compares the raters' labels, so they need one type: "
            f"r is {rt.simpleString()}, c is {ct.simpleString()}"
        )
    g = _contingency_row(cells)
    # chance mass Σ_k rt_k·ct_k over SHARED categories — a category one
    # rater never uses contributes 0 (its missing margin is 0), so the
    # sum runs over matching (row, column) marginal pairs only;
    # disjoint domains ⇒ p_e = 0
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    zero = F.lit(0).cast(d38)
    pe_num = F.aggregate(
        "__rows",
        zero,
        lambda a, x: a
        + F.aggregate(
            "__cols",
            zero,
            lambda b, y: (
                b
                + F.when(
                    x["r"] == y["c"], x["rt"].cast(d19) * y["ct"].cast(d19)
                ).otherwise(zero)
            ).cast(d38),
        ),
    ).cast(d38)
    # the diagonal mass, an exact in-row sum over the cells
    agree = F.aggregate(
        "__cells",
        F.lit(0).cast("long"),
        lambda a, x: a + F.when(x["r"] == x["c"], x["o"]).otherwise(0),
    )
    n = F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n")
    j = g.select(
        n, agree.alias("agree"), "n_rows", "n_cols", pe_num.alias("pe_num")
    )
    nd = F.col("n").cast("double")
    n2 = F.col("n").cast(d19) * F.col("n").cast(d19)
    num = F.col("n").cast(d19) * F.col("agree").cast(d19) - F.col("pe_num")
    den = n2 - F.col("pe_num")
    kappa = F.when(
        (F.col("n") > 0) & (den > 0),
        num.cast("double") / den.cast("double"),
    )
    return j.select(
        "n",
        "n_rows",
        "n_cols",
        (
            F.round(
                F.when(
                    F.col("n") > 0,
                    F.col("agree").cast("double") / nd,
                ),
                round_digits,
            )
            + F.lit(0.0)
        ).alias("po"),
        (
            F.round(
                F.when(
                    F.col("n") > 0,
                    F.col("pe_num").cast("double") / (nd * nd),
                ),
                round_digits,
            )
            + F.lit(0.0)
        ).alias("pe"),
        (F.round(kappa, round_digits) + F.lit(0.0)).alias("kappa"),
    )


def calibration_cells(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Shared (bucket, n, pos, psum) table for the calibration-drift
    statistics (ECE / MCE / Brier decomposition): fixed-width
    probability bins over [0, 1] with exact counts and an exact
    DECIMAL(18,4) probability sum.

    ``prob_col`` is a predicted probability (clamped into [0, 1]; the
    top edge folds into the last bucket) and ``label_col`` a boolean
    outcome.  The probability sum quantizes each p to 4 decimal places
    via the monotone double→decimal cast — the quantization IS the
    contract (the kendall_tau_binned discipline): sums are exact
    whatever the partial-aggregation order, so the cells are MONOTONE
    and merge by ADDITION — on a streaming DataFrame this aggregate is
    the live calibration sketch, its state one row per occupied bin,
    bounded by ``n_buckets``.  Feed already-rounded scores (the
    repo's classifiers emit 4dp) and the quantization is the identity.

    Scale: one map-side-combined aggregate; ≤ ``n_buckets`` output
    rows, whatever the corpus size.
    """
    p = F.col(prob_col).cast("double")
    clamped = F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    bucket = F.least(
        F.greatest(F.floor(clamped * F.lit(n_buckets)), F.lit(0)),
        F.lit(n_buckets - 1),
    ).cast("long")
    return (
        df.filter(p.isNotNull() & F.col(label_col).isNotNull())
        .select(
            bucket.alias("bucket"),
            F.col(label_col).alias("__y"),
            clamped.cast("decimal(18,4)").alias("__p4"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
            F.sum("__p4").alias("psum"),
        )
    )


def expected_calibration_error(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_buckets: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Expected / maximum calibration error of a probabilistic
    classifier (Naeini et al. AAAI'15): bin predictions into
    ``n_buckets`` fixed-width probability bins and compare each bin's
    mean predicted probability (confidence) with its actual positive
    rate (accuracy) — ECE = Σ_b (n_b/N)·|acc_b − conf_b| weights the
    gaps by mass, MCE takes the worst bin.  One row
    ``(n, n_bins, ece, mce)`` — the drift readout that says the
    quality classifier's SCORES have stopped meaning what they say,
    before the downstream keep-rate ever moves.

    Determinism contract: per-bin accuracy and confidence are single
    double divisions of exact components (counts; the 4dp-quantized
    probability sum); the only cross-bin float sum (ECE) runs as a left
    fold over the bucket-sorted bin list (≤ n_buckets elements), and
    MCE is a max (order-independent).  NULL statistics on empty input.

    Scale: everything after the one corpus aggregate runs on
    ≤ ``n_buckets`` rows.
    """
    return ece_from_cells(
        calibration_cells(df, prob_col, label_col, n_buckets),
        round_digits=round_digits,
    )


def ece_from_cells(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Finisher half of :func:`expected_calibration_error` over a
    prebuilt (bucket, n, pos, psum) table (the calibration streaming
    sketch)."""
    g = _calibration_row(cells)

    def gap(x: Column) -> Column:
        nd = x["n"].cast("double")
        acc = x["pos"].cast("double") / nd
        return F.abs(acc - x["psum"].cast("double") / nd)

    tnd = F.col("n").cast("double")
    ece = _bin_fold(lambda x: (x["n"].cast("double") / tnd) * gap(x))
    mce = F.array_max(F.transform("__bins", gap))
    return g.select(
        "n",
        "n_bins",
        (F.round(ece, round_digits) + F.lit(0.0)).alias("ece"),
        (F.round(mce, round_digits) + F.lit(0.0)).alias("mce"),
    )


def _calibration_row(cells: DataFrame) -> DataFrame:
    """The one global aggregate behind the calibration finishers: ``n``
    (total count), ``tp`` (total positives), ``n_bins`` and ``__bins``,
    the ≤ n_buckets (bucket, n, pos, psum) cells sorted by bucket, which
    the finishers fold in-row."""
    return cells.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("tp"),
        F.count("*").cast("long").alias("n_bins"),
        F.array_sort(
            F.collect_list(F.struct("bucket", "n", "pos", "psum"))
        ).alias("__bins"),
    )


def _bin_fold(term) -> Column:
    """Left fold of ``term(bin)`` over the bucket-sorted bins; NULL when
    there are none (the statistic of an empty input)."""
    return F.when(F.col("n_bins") > 0, sum_fold("__bins", term))


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_buckets: int = 10,
    round_digits: int = 4,
) -> DataFrame:
    """Murphy (1973) decomposition of the binned Brier score into
    REL(iability) − RES(olution) + UNC(ertainty): REL =
    (1/N)Σ n_b(conf_b − acc_b)² is miscalibration (0 is perfect), RES =
    (1/N)Σ n_b(acc_b − ȳ)² is how much the bins separate outcomes
    (bigger is better), UNC = ȳ(1−ȳ) is the outcome's own variance —
    the companion readout to :func:`expected_calibration_error` (ECE
    asks "how big are the gaps?", the decomposition asks "is the score
    miscalibrated, or just uninformative?").  One row
    ``(n, n_bins, ybar, rel, res, unc)``, conf_b taken as the bin's
    mean predicted probability.

    Determinism contract and scale: identical to
    :func:`ece_from_cells` — same cell table, two more bucket-sorted
    folds, everything past the corpus aggregate on ≤ n_buckets rows.
    """
    return brier_from_cells(
        calibration_cells(df, prob_col, label_col, n_buckets),
        round_digits=round_digits,
    )


def brier_from_cells(cells: DataFrame, round_digits: int = 4) -> DataFrame:
    """Finisher half of :func:`brier_decomposition` over a prebuilt
    (bucket, n, pos, psum) table (the calibration streaming sketch)."""
    g = _calibration_row(cells)
    tnd = F.col("n").cast("double")
    ybar = F.col("tp").cast("double") / tnd

    def acc_conf(x: Column) -> tuple[Column, Column]:
        nd = x["n"].cast("double")
        return x["pos"].cast("double") / nd, x["psum"].cast("double") / nd

    def rel(x: Column) -> Column:
        acc, conf = acc_conf(x)
        return (x["n"].cast("double") / tnd) * (conf - acc) * (conf - acc)

    def res(x: Column) -> Column:
        acc, _ = acc_conf(x)
        return (x["n"].cast("double") / tnd) * (acc - ybar) * (acc - ybar)

    return g.select(
        "n",
        "n_bins",
        (F.round(ybar, round_digits) + F.lit(0.0)).alias("ybar"),
        (F.round(_bin_fold(rel), round_digits) + F.lit(0.0)).alias("rel"),
        (F.round(_bin_fold(res), round_digits) + F.lit(0.0)).alias("res"),
        (F.round(ybar * (F.lit(1.0) - ybar), round_digits) + F.lit(0.0)).alias(
            "unc"
        ),
    )


def hill_tail_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 100,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group Hill (1975) tail-index estimate over the top-``k``
    order statistics: with u the (k+1)-th largest positive value,
    α̂ = k / Σ_{x > u} ln(x/u) — the heavy-tail exponent audit behind
    "can I trust means/variances on this segment, or is the tail
    Pareto?" (α ≤ 2 ⇒ infinite variance; α ≤ 1 ⇒ infinite mean).  One
    row per group: ``(group, n, k, threshold, alpha)`` — ``n`` counts
    POSITIVE values (Hill needs logs), ``threshold`` = u; alpha is NULL
    when the group has fewer than k+1 positive values or the entire
    top-(k+1) ties at one value (a degenerate tail, not a power law).

    Determinism contract: u is an exact order statistic selected by an
    integer cumulative-count rank over the DISTINCT-VALUE cell table
    (ties inside the top-k contribute identical terms, so row_number
    arbitrariness never arises); each term c·ln(v/u) is ONE fixed
    double expression; the only cross-value float sum folds in
    ascending-value order, replayed by the oracle's
    ``list_sum(list(... ORDER BY v))``.

    Scale: one (group, value) count, then everything runs on the
    distinct-value cell table (the ranksum/value_cells contract — the
    cumulative window is a per-group sort of that table, bounded by
    VALUE CARDINALITY, never rows; quantize unbounded doubles upstream
    if needed).  Also the value-cell streaming sketch's 10th report
    (:func:`hill_from_cells` over a streaming :func:`value_cells`).
    """
    return hill_from_cells(
        value_cells(df, group_col, value_col),
        group_col,
        k=k,
        round_digits=round_digits,
    )


def hill_from_cells(
    cells: DataFrame,
    group_col: str,
    k: int = 100,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`hill_tail_by_group` over a prebuilt
    (grp, v, c) cell table (the value-cell streaming sketch); the
    positivity filter runs HERE."""
    pos = fresh_ids(cells).filter(F.col("v") > 0)
    wd = (
        Window.partitionBy("grp")
        .orderBy(F.col("v").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = pos.select(
        "grp", "v", "c", F.sum("c").over(wd).cast("long").alias("cumd")
    )
    # u = the (k+1)-th largest value: in descending order the running
    # count first reaches k+1 inside u's cell, so u is the LARGEST
    # value whose descending cumulative count is ≥ k+1
    thr = (
        ranked.filter(F.col("cumd") >= F.lit(k + 1))
        .groupBy("grp")
        .agg(F.max("v").alias("threshold"))
    )
    n = pos.groupBy("grp").agg(F.sum("c").cast("long").alias("n"))
    terms = (
        pos.join(thr, "grp")
        .filter(F.col("v") > F.col("threshold"))
        .select(
            "grp",
            "v",
            (
                F.col("c").cast("double")
                * F.log(F.col("v") / F.col("threshold"))
            ).alias("t"),
        )
    )
    s = terms.groupBy("grp").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("v", "t"))),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x["t"],
        ).alias("s")
    )
    alpha = F.when(
        F.col("s") > 0, F.lit(float(k)) / F.col("s")
    )
    return (
        n.join(thr, "grp", "left")
        .join(s, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.lit(k).cast("long").alias("k"),
            "threshold",
            (F.round(alpha, round_digits) + F.lit(0.0)).alias("alpha"),
        )
        .orderBy(group_col)
    )


def user_novelty(
    df: DataFrame,
    key_col: str,
    day_col: str,
) -> DataFrame:
    """Daily new-vs-returning actor profile: per day, how many distinct
    actors were active, how many appeared for the FIRST time, how many
    were returning, and the running total of distinct actors ever seen
    — the growth/churn readout behind "is this stream acquiring new
    sources or re-serving the same ones?" (for training-data pipelines:
    is the crawl finding new domains or re-crawling?).  Output
    ``(day, n_active, n_new, n_returning, cum_users)`` ordered by day.

    Determinism contract: everything is exact integer counting — first
    appearance is a min-day aggregate, the daily split subtracts exact
    counts, and the cumulative total is an integer window sum.  A
    user's first day is by construction an active day, so the left
    join can never drop a first appearance.

    Scale: two map-side-combined aggregates over the corpus (per-actor
    min, per-day distinct) and a day-level cumulative window — the
    window sorts ONLY the day-count-sized daily table (the
    gap_filled_daily shape), never rows.
    """
    base = df.filter(
        F.col(key_col).isNotNull() & F.col(day_col).isNotNull()
    ).select(F.col(key_col).alias("k"), F.col(day_col).alias("day"))
    first = base.groupBy("k").agg(F.min("day").alias("first_day"))
    active = base.groupBy("day").agg(
        F.countDistinct("k").cast("long").alias("n_active")
    )
    new = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    j = active.join(new, "day", "left").select(
        "day",
        "n_active",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    return j.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).cast("long").alias(
            "n_returning"
        ),
        F.sum("n_new").over(wd).cast("long").alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (Chamandy et al. 2012)
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds at 24-bit hash scale, PYTHON-computed
# once and embedded as identical integer literals on both engines (the
# RBO weight-schedule rule: never re-derive float constants per engine).
# weight = #{k : h >= T_k} over a uniform 24-bit h, truncated at 8
# (P(X > 8 | lambda=1) ~ 1e-5 — deterministic and identical both engines).
POISSON1_T24 = (
    6171992, 12343985, 15429982, 16458647,
    16715813, 16767247, 16775819, 16777044,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str = "doc_id",
    b: int = 200,
    alpha: float = 0.05,
    salt: str = "boot",
    round_digits: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-group bootstrap CI of the mean via the POISSON bootstrap
    (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    Streams" — the bootstrap that works in one distributed pass): each
    row contributes an independent Poisson(1) replicate weight, so a
    resample never needs global coordination; replicate b's mean is
    sum(w*v)/sum(w) over deterministic hash-derived weights.

    Determinism contract: the weight is an integer derived from a
    24-bit hash of '<salt>:<b>:<id>' compared against the POISSON1_T24
    integer thresholds — exact on both engines for the default
    ``hash_fn="md5"``; ``hash_fn="xxhash64"`` is the cheaper production
    variate (see :func:`bootstrap_replicates`).
    ``value_col`` must be an EXACT column (integer or decimal): the
    replicate sums are then partition-order independent, and the only
    doubles are one division per (group, replicate) plus the final
    roundings.  The CI is an exact order statistic over the replicate
    means (rank ceil(alpha/2*B_eff), tie-broken by replicate id), never
    an interpolated quantile.

    Empty replicates (every weight 0 — only possible for tiny groups)
    are excluded; ``b_eff`` reports how many replicates contributed.
    NULL groups are dropped (the token_cells convention).

    Output: (group_col, n_docs, b_eff, mean, ci_lo, ci_hi) ordered by
    group.

    Scale: the plan is ONE groupBy over B x N rows (map-side combined,
    (group, replicate) shuffle keys — B-way fan-out of every group key,
    which UNSKEWS rather than skews) + a replicate-count-bounded window
    per group.  No collect, no driver loop; B=200 at 100 TB is 200
    partial aggregates per mapper, not 200 passes.
    """
    return bootstrap_ci_from_replicates(
        bootstrap_replicates(
            df,
            group_col,
            value_col,
            id_col=id_col,
            b=b,
            salt=salt,
            hash_fn=hash_fn,
        ),
        group_col,
        alpha=alpha,
        round_digits=round_digits,
    )


def bootstrap_replicates(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str = "doc_id",
    b: int = 200,
    salt: str = "boot",
    hash_fn: str = "md5",
) -> DataFrame:
    """The Poisson-bootstrap replicate SKETCH: per (group, replicate),
    the weighted row count and weighted value sum ``(__g, __b, n_b,
    s_b)``, with ``__b = -1`` the unweighted POINT row (w ≡ 1, so
    ``n_b`` = group size and ``s_b`` = the exact value total).

    Both columns are exact (integer/decimal) and merge by ADDITION —
    disjoint row batches' sketches sum to the whole-corpus sketch,
    because every weight is a pure function of (salt, replicate, id).
    That makes it, on a streaming DataFrame, the live sketch, and
    :func:`bootstrap_ci_from_replicates` the shared finisher — the
    *_from_cells split applied to resampling.  State bound: one row
    per (group, replicate), |groups| × (b + 1), never stream length.

    The input is ``spread`` first: a single-file corpus would run the
    whole B×N hashing stage on one core until the groupBy exchange
    (no-op on already-parallel inputs).

    ``hash_fn`` picks the 24-bit uniform variate the Poisson thresholds
    compare against: ``"md5"`` (default) is the DECLARED ORACLE PATH —
    DuckDB replays the hex-head conv exactly; ``"xxhash64"`` is the
    PRODUCTION path (low 24 bits of the JVM-native seeded xxhash64 —
    one codegen'd hash per row instead of an md5 digest + string
    slice + base conv, the substring_dup_pairs precedent).  Both feed
    the identical POISSON1_T24 thresholds, so every statistical
    property (weight mean/var = 1, CI coverage) is shared; only the
    pseudo-random stream differs — CIs agree to the bootstrap's own
    Monte-Carlo resolution, pinned by an accuracy-contract test, never
    a hash-equality oracle."""
    if b < 2:
        raise ValueError("bootstrap_replicates needs b >= 2 replicates")
    from streamkit_spark.functions.util import spread

    base = spread(df.filter(F.col(group_col).isNotNull())).select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("__v"),
    )
    reps = base.withColumn(
        "__b", F.explode(F.sequence(F.lit(-1), F.lit(b - 1)))
    )
    key = F.concat_ws(
        ":",
        F.lit(salt),
        F.col("__b").cast("string"),
        F.col("__id").cast("string"),
    )
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        # low 24 bits of the signed 64-bit hash: two's-complement AND
        # yields a uniform [0, 2^24) integer on any sign
        h = F.xxhash64(key).bitwiseAND(F.lit(0xFFFFFF))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")
    w = None
    for t in POISSON1_T24:
        term = F.when(h >= F.lit(t), 1).otherwise(0)
        w = term if w is None else w + term
    w = F.when(F.col("__b") == -1, F.lit(1)).otherwise(w)
    return reps.groupBy("__g", "__b").agg(
        F.sum(w).cast("long").alias("n_b"),
        F.sum(w * F.col("__v")).alias("s_b"),
    )


def bootstrap_ci_from_replicates(
    rep: DataFrame,
    group_col: str,
    alpha: float = 0.05,
    round_digits: int = 4,
) -> DataFrame:
    """CI report from a :func:`bootstrap_replicates` sketch — the
    shared batch/stream finisher.  See :func:`poisson_bootstrap_ci`
    for the statistic's contract; this half is replicate-count-bounded
    (one window + two aggregates over |groups| × (b + 1) rows).

    ``alpha`` is carried in PER-MILLE integer arithmetic (exact ceil
    ranks on both engines), so alpha/2 must be a whole number of
    per-mille: alpha must be a multiple of 0.002 (0.05, 0.1, 0.002,
    ...).  Anything else (e.g. 0.003) raises rather than silently
    rounding the CI rank away from the documented ceil(alpha/2 · B)."""
    if not (0.0 < alpha < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    lo_pm = int(round(alpha * 500))  # alpha/2 in per-mille
    if lo_pm < 1:
        raise ValueError("alpha too small for per-mille rank arithmetic")
    if abs(alpha * 500 - lo_pm) > 1e-9:
        raise ValueError(
            "alpha must be a multiple of 0.002: alpha/2 is carried in "
            f"per-mille integer arithmetic and {alpha!r} is not "
            "representable (would silently shift the CI rank)"
        )
    hi_pm = 1000 - lo_pm

    m = (
        rep.filter((F.col("__b") >= 0) & (F.col("n_b") > 0))
        .select(
            "__g",
            "__b",
            (
                F.col("s_b").cast("double") / F.col("n_b").cast("double")
            ).alias("mean_b"),
        )
    )
    wnd = Window.partitionBy("__g").orderBy(
        F.col("mean_b").asc(), F.col("__b").asc()
    )
    ranked = m.withColumn("rn", F.row_number().over(wnd)).withColumn(
        "cnt", F.count("*").over(Window.partitionBy("__g"))
    )
    # exact ceil rank in integer arithmetic; operands positive so Spark
    # div == DuckDB // here
    rank_lo = F.expr(f"cast(({lo_pm} * cnt + 999) div 1000 as int)")
    rank_hi = F.expr(f"cast(({hi_pm} * cnt + 999) div 1000 as int)")
    bounds = ranked.groupBy("__g").agg(
        F.count("*").cast("long").alias("b_eff"),
        F.max(
            F.when(F.col("rn") == rank_lo, F.col("mean_b"))
        ).alias("__lo"),
        F.max(
            F.when(F.col("rn") == rank_hi, F.col("mean_b"))
        ).alias("__hi"),
    )
    # rename the point branch's key: both branches derive from the SAME
    # input frame, and a memory-sink/view input makes the "__g" join
    # ambiguous (self-join attribute conflict)
    point = rep.filter(F.col("__b") == -1).select(
        F.col("__g").alias("__gp"),
        F.col("n_b").alias("n_docs"),
        (
            F.col("s_b").cast("double") / F.col("n_b").cast("double")
        ).alias("__mean"),
    )
    return (
        point.join(bounds, F.col("__gp") == F.col("__g"))
        .select(
            F.col("__g").alias(group_col),
            "n_docs",
            "b_eff",
            F.round("__mean", round_digits).alias("mean"),
            F.round("__lo", round_digits).alias("ci_lo"),
            F.round("__hi", round_digits).alias("ci_hi"),
        )
        .orderBy(F.col(group_col).asc_nulls_last())
    )


def conformal_threshold(
    df: DataFrame,
    group_col: str,
    score_col: str,
    alpha: float = 0.1,
    round_digits: int = 4,
) -> DataFrame:
    """Split-conformal quantile per group (Vovk et al. 2005; Angelopoulos
    & Bates 2023 tutorial eq. 1): q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    calibration score — the distribution-free threshold such that a new
    exchangeable point's score is ≤ q̂ with probability ≥ 1−α.  The
    ML-pipeline use: calibrate a quality/novelty scorer's cutoff per
    source with a finite-sample guarantee instead of an eyeballed
    constant.

    Exactness: the rank is integer arithmetic (⌈(n+1)·keep‰/1000⌉ via
    the ceil-div identity, same on both engines), and q̂ an exact order
    statistic — with duplicate scores the value at any rank is
    identical under every sort order, so row_number needs no
    tie-break.  When n < (1−α)/α the guarantee needs rank n+1 and no
    finite threshold exists: q̂ and cal_coverage are NULL (never a
    silent clamp to the max).

    ``score_col`` must already be engine-exact (integer, decimal, or a
    pre-rounded double like the classifier score) — q̂ is emitted
    unrounded, so an oracle-paired use over a raw double would
    hash-compare raw stringifications.

    Output: (group_col, n_cal, rank, qhat, cal_coverage) where
    cal_coverage = rank/n is a LOWER BOUND on the calibration-set
    coverage of q̂ — exact when q̂ is untied; with duplicates at q̂ the
    true coverage strictly exceeds it (e.g. 20×0.5 + 5×0.9 at rank 24
    reports 0.96 while every score is ≤ q̂ = 0.9).

    Scale: one window over each group's scores + one aggregate — the
    rank_buckets shape; no collect, no quantile approximation (the
    approx_percentile rank-error trap does not apply)."""
    a_pm = int(round(alpha * 1000))
    if not (0 < a_pm < 1000):
        raise ValueError(
            "alpha must be in (0.001, 0.999) at per-mille resolution"
        )
    keep_pm = 1000 - a_pm
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), F.col(score_col).alias("__s"))
    w = Window.partitionBy("__g").orderBy(F.col("__s").asc())
    r = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("__g"))
    )
    # ONE formula definition: rk is constant per group (a function of
    # the per-group n), so the output rank is carried through the
    # aggregate rather than re-derived from a second literal that
    # could drift from this one
    rk = F.expr(f"cast(((n + 1) * {keep_pm} + 999) div 1000 as bigint)")
    out = r.groupBy("__g").agg(
        F.count("*").cast("long").alias("n_cal"),
        F.max(rk).alias("rank"),
        F.max(F.when(F.col("rn") == rk, F.col("__s"))).alias("qhat"),
    )
    rank = F.col("rank")
    return (
        out.select(
            F.col("__g").alias(group_col),
            "n_cal",
            "rank",
            "qhat",
            F.when(
                rank <= F.col("n_cal"),
                F.round(
                    rank.cast("double") / F.col("n_cal").cast("double"),
                    round_digits,
                ),
            ).alias("cal_coverage"),
        )
        .orderBy(F.col(group_col).asc_nulls_last())
    )
