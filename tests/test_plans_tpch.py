"""Physical-plan assertions for the round-2 TPC-H shapes and curation
ops: dims broadcast, filters pushed to the scan, no scale-hostile hints."""

from __future__ import annotations

import re

import __spark_entry__ as E
from streamkit_spark.plans.inspect import explain_str, pushed_filters
from tests.conftest import SF_DIR


def _plan(spark, name, mode="simple"):
    return explain_str(E.queries()[name](spark, SF_DIR), mode)


def test_q7_broadcasts_nations_and_pushes_date_filter(spark):
    df = E.queries()["tpch_q7_nation_volume"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    pushed = " | ".join(pushed_filters(df))
    assert "l_shipdate" in pushed  # date range reached the lineitem scan


def test_q8_part_filter_pushed_not_hint_broadcast(spark):
    df = E.queries()["tpch_q8_market_share"](spark, SF_DIR)
    pushed = " | ".join(pushed_filters(df))
    assert "EqualTo(p_type,ECONOMY)" in pushed
    # the logical plan must not carry a broadcast HINT on part — at 100 TB
    # an ECONOMY filter is still 1/6 of the table; AQE may still choose a
    # runtime broadcast at small SF, which is exactly the point
    logical = explain_str(df, "extended")
    hints = re.findall(r"ResolvedHint.*", logical)
    assert not any("part" in h for h in hints)


def test_q15_max_revenue_is_decimal_compared(spark):
    # the max-revenue equality must happen on DECIMAL, not rounded double
    df = E.queries()["tpch_q15_top_supplier"](spark, SF_DIR)
    analyzed = explain_str(df, "extended")
    assert "decimal" in analyzed.lower()


def test_q17_per_part_join_not_hint_broadcast(spark):
    df = E.queries()["tpch_q17_small_quantity"](spark, SF_DIR)
    logical = explain_str(df, "extended")
    # exactly one broadcast hint (the Brand#3 dim side), not two — the
    # per-part aggregate side must stay a shuffle join at scale
    assert len(re.findall(r"UnresolvedHint broadcast|ResolvedHint", logical)) <= 2


def test_curation_sampling_is_scan_plus_filter_only(spark):
    df = E.queries()["stratified_sample"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    # no aggregate and no join anywhere: pure scan -> filter -> project
    assert "Aggregate" not in plan and "Join" not in plan


def test_contamination_broadcasts_benchmark(spark):
    plan = _plan(spark, "contamination")
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_windows_are_bucket_partitioned(spark):
    plan = _plan(spark, "pack_sequences", mode="formatted")
    # the row-level running sum must be partitioned by the bucket key
    assert "partitionBy=[__bkt" in plan.replace(" ", "") or "__bkt" in plan


def test_array_funcs_pushes_id_filter(spark):
    df = E.queries()["array_funcs"](spark, SF_DIR)
    pushed = " | ".join(pushed_filters(df))
    assert "vec_id" in pushed  # predicate reached the parquet scan
    plan = explain_str(df, "simple")
    assert "Join" not in plan  # pure scan -> project


def test_repetition_stats_no_global_window(spark):
    """Argmax is a two-level aggregate, never a global (unpartitioned)
    window — the latter single-partitions the corpus at scale."""
    df = E.queries()["repetition_stats"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_duplicate_clusters_joins_are_equi(spark):
    """The CC loop and the LSH candidate step must stay equi-joins —
    a cartesian anywhere here is quadratic at corpus scale."""
    from streamkit_spark.functions import dedup as D

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    plan = explain_str(
        D.duplicate_clusters(pairs, max_iter=1, small_graph_threshold=0), "simple"
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_substring_dedup_single_documents_scan(spark):
    """Group-and-enumerate pairs: the winnowing fingerprint pipeline must
    be planned ONCE — exactly one scan of documents.parquet, no join at
    all (pairs come from in-group enumeration, not a self-join)."""
    plan = _plan(spark, "dedup_substring")
    assert len(re.findall(r"documents\.parquet", plan)) <= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_single_fingerprint_pipeline(spark):
    """Group-and-enumerate simhash pairs (VERDICT r2 #3): the 64-aggregate
    fingerprint pipeline must be planned ONCE — a single documents scan,
    and no join at all (the hamming verify happens in-row on the struct
    pairs, not via a chunk⋈chunk self-join)."""
    plan = _plan(spark, "dedup_simhash")
    assert len(re.findall(r"documents\.parquet", plan)) <= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_single_signature_pipeline(spark):
    """The banded-LSH candidate stage must not replan the signature
    aggregate: documents is scanned once for signatures plus (at most)
    the two map-only verify branches — never four."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert len(re.findall(r"documents\.parquet", plan)) <= 3
    assert "CartesianProduct" not in plan


def test_semantic_dedup_assignment_is_map_only(spark):
    """SemDeDup: centroid assignment must be a map-side expression over
    broadcast literals (no join before the in-cluster grouping), and the
    verify joins must be equi-joins."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # assignment scan + the two map-only verify sides (id_a / id_b) — and
    # never a fourth from a replanned assignment pipeline
    assert len(re.findall(r"embeddings\.parquet", plan)) <= 3
    assert "SortMergeJoin" not in plan  # slim pair list broadcasts


def test_temperature_sample_single_corpus_pass(spark):
    """The rate table is a broadcast back-join: the corpus is scanned for
    counts and once for the filter — and the filter side carries no
    shuffle of corpus rows."""
    df = E.queries()["temperature_sample"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminated_broadcasts_benchmark_not_bad_ids(spark):
    """Benchmark grams are hint-broadcast into the contamination join
    (bounded by construction: the benchmark is small).  The bad-id
    anti-join side is deliberately UN-hinted — its size is bounded only
    by the contamination rate, so the strategy is AQE's runtime call:
    no ResolvedHint may appear on it."""
    df = E.queries()["decontaminated"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan  # the benchmark-gram join
    logical = explain_str(df, "extended")
    # one hint — the benchmark-gram side; the bad-id side is bare (each
    # hint shows up at most twice across the analyzed+optimized sections)
    n_hints = len(re.findall(r"UnresolvedHint broadcast|ResolvedHint", logical))
    assert 1 <= n_hints <= 2
