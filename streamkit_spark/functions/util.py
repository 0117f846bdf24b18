"""Shared plan-shaping helpers for the functions package."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fresh_ids(df: DataFrame) -> DataFrame:
    """``df`` behind one aliasing projection.  A finisher that joins two
    branches of its input calls this first: when the input reads a leaf
    Spark cannot re-instance (a memory-sink view), the analyzer can then
    give one join side new column ids instead of failing on conflicting
    attributes.  The plan and its exchange reuse are unchanged."""
    return df.select(*[F.col(c).alias(c) for c in df.columns])


def sum_fold(arr: str, term) -> Column:
    """Left fold of ``term(x)`` over the array column ``arr``, from 0.0 in
    array order — a finisher's cross-element float sum, which the oracle
    replays with ``list_sum(list(... ORDER BY))``."""
    return F.aggregate(arr, F.lit(0.0).cast("double"), lambda a, x: a + term(x))


def spread(df: DataFrame) -> DataFrame:
    """Fan a (possibly single-file) input across the cluster before
    expression-heavy per-row work.  A small parquet lands in one
    partition, which would serialize shingling/hashing/bit-fold work on
    one core; the repartition cost (shuffling the projected rows once)
    is tiny next to the per-row compute it parallelizes.  At real scale
    a scan input arrives in many partitions and the guard makes this a
    no-op — never an extra shuffle.

    Planning never executes the input.  An input that holds a shuffle
    (AQE wraps a plan only when it holds an exchange or a subquery, which
    ``executedPlan`` tells without running a job) is repartitioned
    without a partition-count probe: ``df.rdd`` on an adaptive plan runs
    every shuffle stage below it (curate's exact-dedup shuffle: one
    70-150 ms job at build time, its result thrown away).  Nor is such an
    input left to AQE, which coalesces a small post-shuffle input to one
    partition (curate at sf0.1: 3.7 → 5.0 s with shingling on one core).

    Streaming inputs pass through untouched: ``df.rdd`` is illegal on a
    streaming plan, and micro-batches are already distributed by the
    source (the cell-table builders double as streaming sketches)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    shuffled = df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"
    if not shuffled and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def topk_per_key(
    scored: DataFrame, key: str, tiebreak: str, score: str, k: int
) -> DataFrame:
    """The ``k`` best rows of every ``key``: ``rank`` is the row_number
    over (``score`` desc, ``tiebreak`` asc), rows with ``rank`` ≤ ``k``
    survive, and the output ``(key, tiebreak, score, rank)`` is ordered by
    (key, rank).  The one per-key top-k of the search and text operators;
    a caller that wants reproducible ranks rounds ``score`` first, so ties
    break by ``tiebreak``."""
    w = Window.partitionBy(key).orderBy(F.col(score).desc(), F.col(tiebreak))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(key, tiebreak, score, "rank")
        .orderBy(key, "rank")
    )


def in_row_pairs(arr: str) -> Column:
    """``array<struct<x, y>>`` of every element pair ``(arr[i], arr[j])``
    with i < j of the array column ``arr``, in (i, j) order — the one
    in-row pair enumeration of the package.  Explode it over a grouped
    table to enumerate in-group pairs instead of self-joining a derived
    table (ONE candidate pipeline in the plan, no AQE exchange-reuse
    gamble; the self-join shape measured bimodal 3s/24s runtimes on the
    jaccard operator).  The two-param HOF lambda is (element, index),
    which is exactly what the tail-slice offset needs."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(F.col(arr), i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )


def pairs_from_sorted_groups(
    grouped: DataFrame,
    ids_col: str = "ds",
    carry: tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """Distinct (id_a, id_b) pairs of each group's ascending-sorted id
    array, by :func:`in_row_pairs`; ascending input guarantees
    id_a < id_b.

    ``carry`` propagates extra group columns onto every pair row;
    ``distinct=False`` skips the final dedup when groups are disjoint by
    construction (e.g. single-assignment clusters) or when the caller
    counts pair multiplicity."""
    out = grouped.select(
        *carry, F.explode(in_row_pairs(ids_col)).alias("p")
    ).select(*carry, F.col("p.x").alias("id_a"), F.col("p.y").alias("id_b"))
    return out.distinct() if distinct else out
