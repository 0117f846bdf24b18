"""Shared fixtures: one SparkSession per test run + a DuckDB oracle harness
that mirrors the driver's comparison protocol (row-count, column names,
order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamkit_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("STREAMKIT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        app_name="streamkit_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(action)``: the Spark jobs ``action()`` starts, counted by
    job group once the listener bus has delivered them."""
    import uuid

    sc = spark.sparkContext

    def count(action) -> int:
        group = f"pin-{uuid.uuid4()}"
        sc.setJobGroup(group, "job-count pin")
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


def final_plan_scans(df) -> dict[str, int]:
    """FileScan count per parquet table in ``df``'s adaptive FINAL plan
    (call after an action).  The initial plan a final plan prints next to
    it, and the plans of reused exchanges, are not counted."""
    import re

    counts: dict[str, int] = {}
    skip = None  # indentation of the "== Initial Plan ==" being skipped
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        ind = len(line) - len(line.lstrip(" :|+-"))
        if skip is not None and ind >= skip:
            continue
        skip = ind if "== Initial Plan ==" in line else None
        m = re.search(r"FileScan .*?/(\w+)\.parquet", line)
        if skip is None and m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 vs 0.0 and float repr jitter at the comparison layer
        return round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    return v


def normalize_rows(cols, rows):
    return sorted(
        tuple(_norm_cell(v) for v in row) for row in rows
    )


def compare_query(spark, duck, spark_df, sql):
    """Driver-protocol comparison: column names, row count, sorted values."""
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]
    d = duck.execute(sql)
    d_cols = [c[0].lower() for c in d.description]
    d_rows = d.fetchall()
    assert s_cols == d_cols, f"columns differ: spark={s_cols} duckdb={d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"row counts differ: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sn = normalize_rows(s_cols, s_rows)
    dn = normalize_rows(d_cols, d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sn, dn)) if a != b
    ]
    assert not mismatches, f"value mismatch (first 3): {mismatches[:3]}"


# ------------------------------------------------------------------ slow tier
# Node ids measured >= 7s call time in the r12 full run (2011s total over
# 874 tests; this set is 869s of it).  Deselected by the DEFAULT run via
# pytest.ini `addopts = -m "not slow"` so the driver's budgeted
# `pytest tests/` completes (VERDICT r11 item #3); every test stays
# runnable via `-m ""` / `-m slow`.  When a test here gets fast, or a new
# multi-second test lands, update the list — an entry that no longer
# exists is reported at collection time by `stale_slow_tests` below.
SLOW_TESTS = {
    "tests/test_ab_labelprop.py::test_ab_report_matches_python_welch",
    "tests/test_ab_labelprop.py::test_labelprop_chain_propagates_by_depth",
    "tests/test_ab_labelprop.py::test_labelprop_fixture_full_coverage",
    "tests/test_anomaly.py::test_spike_flagged_against_cross_batch_baseline",
    "tests/test_batch_stream_parity.py::test_association_stream_retroactive_pairs_across_batches",
    "tests/test_batch_stream_parity.py::test_daily_series_stream_parity",
    "tests/test_batch_stream_parity.py::test_interarrival_stream_boundary_state_across_batches",
    "tests/test_batch_stream_parity.py::test_rankstats_stream_parity",
    "tests/test_batch_stream_parity.py::test_token_cells_stream_parity",
    "tests/test_curation.py::test_llr_matches_python_2x2_reference",
    "tests/test_curation.py::test_split_leakage_report_zero_by_construction",
    "tests/test_dedup.py::test_duplicate_clusters_matches_union_find_model[0]",
    "tests/test_heavyhitters.py::test_evicted_counter_emits_tombstone",
    "tests/test_heavyhitters.py::test_stream_carries_state_across_batches",
    "tests/test_ingest.py::test_ingest_batch_sequences_per_segment",
    "tests/test_ingest.py::test_ingest_conflict_with_foreign_writer_is_surfaced",
    "tests/test_ingest.py::test_ingest_replay_with_new_group_falls_back_to_tail",
    "tests/test_ingest.py::test_stream_into_store_end_to_end",
    "tests/test_neardup_index.py::test_embedding_index_cross_batch",
    "tests/test_oracle_corpus.py::test_oracle_match[classifier_ap]",
    "tests/test_oracle_corpus.py::test_oracle_match[classifier_auc]",
    "tests/test_oracle_corpus.py::test_oracle_match[cluster_modularity]",
    "tests/test_oracle_corpus.py::test_oracle_match[dedup_minhash_lsh]",
    "tests/test_oracle_corpus.py::test_oracle_match[ivfadc_recall]",
    "tests/test_oracle_corpus.py::test_oracle_match[kcore_knn]",
    "tests/test_oracle_corpus.py::test_oracle_match[semantic_clusters]",
    "tests/test_pipeline.py::test_cluster_dedup_policy_differs_on_star_components",
    "tests/test_pipeline.py::test_pipeline_containment_stage_drops_quote_inclusion",
    "tests/test_pipeline.py::test_substring_stage_drops_verbatim_overlap",
    "tests/test_presence_liveness.py::test_presence_join_snapshot_then_ttl_eviction",
    "tests/test_produce.py::test_compact_preserves_data_and_reduces_files",
    "tests/test_produce.py::test_compact_target_bytes_range_layout",
    "tests/test_projection_knn.py::test_ivfadc_reconstruction_beats_raw_pq_on_clustered_data",
    "tests/test_properties.py::test_produce_consume_roundtrip_property",
    "tests/test_rollup.py::test_rollup_matches_batch_and_upserts_incrementally",
    "tests/test_scale_patterns.py::test_r11_plan_shapes",
    "tests/test_scale_patterns.py::test_r6_diagnostics_plan_shapes",
    "tests/test_scale_patterns.py::test_r8_plan_shapes",
    "tests/test_similarity.py::test_kmeans_exact_means_close_to_avg_and_assignment_total",
    "tests/test_similarity.py::test_kmeans_improves_objective_and_feeds_ivf",
    "tests/test_similarity.py::test_lsh_recall_against_brute_force",
    "tests/test_similarity.py::test_pq_adc_recall_against_brute_force",
    "tests/test_sql_surface.py::test_diagnostics_views_queryable_from_sql",
    "tests/test_streaming_curation.py::test_row_local_metrics_match_batch_aggregate_form",
    "tests/test_streaming_curation.py::test_stream_classifier_gate_parity_and_zero_state",
    "tests/test_streaming_curation.py::test_stream_dedups_replayed_content",
    "tests/test_streaming_curation.py::test_stream_equals_batch_curation",
    "tests/test_streaming_joins.py::test_stream_equals_batch_interval_join",
    "tests/test_streaming_joins.py::test_streaming_join_state_is_watermark_bounded",
    "tests/test_streaming_windows.py::test_running_segment_status_stateful",
}


def stale_slow_tests(slow, matched, collected_files, root):
    """SLOW_TESTS entries that must fail the session: those whose file
    was collected but that matched no item (a renamed or removed test),
    and those whose file no longer exists under ``root`` (a renamed or
    deleted file).  Entries of an existing file that was not collected
    (``--ignore``, a collection error, a file-scoped run) are fine."""
    unmatched = set(slow) - set(matched)
    return sorted(
        n
        for n in unmatched
        if n.split("::")[0] in collected_files
        or not (root / n.split("::")[0]).is_file()
    )


def pytest_collection_modifyitems(config, items):
    matched = set()
    collected_files = set()
    for item in items:
        collected_files.add(item.nodeid.split("::")[0])
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(item.nodeid)
    # A `file::test` nodeid argument collects a subset of a file's items,
    # so every other slow entry in that file would read as stale (-k and
    # --deselect filter later, after this hook has seen every item).
    if any("::" in str(a) for a in config.args):
        return
    stale = stale_slow_tests(
        SLOW_TESTS, matched, collected_files, config.rootpath
    )
    assert not stale, f"SLOW_TESTS entries no longer collected: {stale[:5]}"
