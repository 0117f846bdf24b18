"""Batch vs streaming parity — the engine's analog of the reference's
multi-backend matrix ("both backends must pass the same tests",
docs/storage.md:89): the same query computed as a batch plan and as a
Structured Streaming plan over identical input must agree exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamkit_spark import tables
from tests.conftest import SF_DIR

DAY = 86_400_000


@pytest.fixture(scope="module")
def fixture_stream(spark, tmp_path_factory):
    # the file stream source wants a directory; stage the fixture file
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    # raw file schema (ts may be a timestamp flavor), then the same
    # epoch-ns normalization tables.load applies to the batch side
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    stream = spark.readStream.schema(raw).parquet(str(d))
    return tables.normalize_events(stream)


def test_grouped_counts_parity(spark, fixture_stream):
    batch = tables.load(spark, SF_DIR, "events")
    expected = {
        (r["event_type"], r["n"], r["sum_value"])
        for r in batch.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4)
            .alias("sum_value"),
        )
        .collect()
    }
    agg = fixture_stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4)
        .alias("sum_value"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("parity_counts").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_type"], r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM parity_counts").collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_tumbling_daily_parity(spark, fixture_stream):
    """The declared tumbling_daily batch query vs the streaming event-time
    window formulation — same windows, same values."""
    import __spark_entry__ as E

    expected = {
        (r["window_id"], r["event_type"]): (r["n"], r["sum_value"])
        for r in E.q_tumbling_daily(spark, SF_DIR).collect()
    }
    s = fixture_stream.withColumn(
        "event_time", F.timestamp_millis(F.expr("ts div 1000000"))
    )
    agg = (
        s.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 day").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4)
            .alias("sum_value"),
        )
        .select(
            (F.unix_millis(F.col("win.start")) / DAY).cast("long").alias("window_id"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("parity_tumble").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_id"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM parity_tumble").collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_segment_status_parity_fixture_binding(spark, fixture_stream):
    """a1_segment_status (batch) vs the streaming min/max aggregation over
    the same fixture columns."""
    import __spark_entry__ as E

    expected = {
        (r["space"], r["segment"]): (
            r["first_sequence"], r["first_ts"], r["last_sequence"], r["last_ts"]
        )
        for r in E.q_a1_segment_status(spark, SF_DIR).collect()
    }
    agg = fixture_stream.groupBy(
        F.col("event_type").alias("space"), F.col("user_id").alias("segment")
    ).agg(
        F.min("event_id").alias("first_sequence"),
        F.min_by(F.expr("ts div 1000000"), F.col("event_id")).alias("first_ts"),
        F.max("event_id").alias("last_sequence"),
        F.max_by(F.expr("ts div 1000000"), F.col("event_id")).alias("last_ts"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("parity_status").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["space"], r["segment"]): (
                r["first_sequence"], r["first_ts"], r["last_sequence"], r["last_ts"]
            )
            for r in spark.sql("SELECT * FROM parity_status").collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_normalize_events_invariant_to_parquet_timestamp_unit(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (r1) and
    TIMESTAMP(MICROS)/ntz (r2).  tables.load must produce the identical
    epoch-ns int64 column for either physical encoding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_vals = [1704067798778549000, 1704068166738090000, 1704068217102229000]
    ids = [1, 2, 3]
    for unit, sub in [("ns", "as_ns"), ("us", "as_us")]:
        d = tmp_path / sub
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [v // (1 if unit == "ns" else 1000) for v in ns_vals],
                    pa.timestamp(unit),
                ),
            }
        )
        pq.write_table(tbl, d / "events.parquet")
    got_ns = {
        (r["event_id"], r["ts"])
        for r in tables.load(spark, str(tmp_path / "as_ns"), "events").collect()
    }
    got_us = {
        (r["event_id"], r["ts"])
        for r in tables.load(spark, str(tmp_path / "as_us"), "events").collect()
    }
    expect = set(zip(ids, ns_vals))
    assert got_us == expect
    assert got_ns == expect


def test_user_accumulation_parity(spark, fixture_stream):
    """Streaming first-seen aggregate + batch finisher equals the batch
    analytics.user_accumulation exactly: first_seen_days on the stream,
    accumulate_first_days on its sink."""
    from streamkit_spark.functions.analytics import (
        accumulate_first_days,
        first_seen_days,
        user_accumulation,
    )

    batch = tables.load(spark, SF_DIR, "events").select(
        "user_id", F.expr("ts div 1000000").alias("ts_ms")
    )
    expected = [
        (r["day"], r["new_users"], r["cum_users"])
        for r in user_accumulation(batch, "user_id", "ts_ms").collect()
    ]
    # complete mode: the memory sink holds the full current first-seen
    # table (update mode would need a latest-wins upsert sink; min-agg
    # values are identical either way)
    q = (
        first_seen_days(fixture_stream, "user_id", F.expr("ts div 1000000"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_first_seen")
        .start()
    )
    try:
        q.processAllAvailable()
        first_seen = spark.sql("SELECT * FROM parity_first_seen")
        got = [
            (r["day"], r["new_users"], r["cum_users"])
            for r in accumulate_first_days(first_seen).collect()
        ]
        assert got == expected
    finally:
        q.stop()


def test_hll_cardinality_parity(spark, fixture_stream):
    """Streaming HLL register aggregate + shared finisher equals the
    batch sketch.hll_distinct exactly (sketch.hll_registers on the
    stream, hll_estimate_from_registers on its sink), and the streaming
    state is register-bounded: ≤ 2^b rows per group."""
    from streamkit_spark.functions.sketch import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_registers,
    )

    batch = tables.load(spark, SF_DIR, "events")
    expected = {
        (r["event_type"], r["hll_estimate"])
        for r in hll_distinct(batch, "user_id", ["event_type"]).collect()
    }
    q = (
        hll_registers(fixture_stream, "user_id", ["event_type"])
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_hll_regs")
        .start()
    )
    try:
        q.processAllAvailable()
        regs = spark.sql("SELECT * FROM parity_hll_regs")
        per_group = regs.groupBy("event_type").count().collect()
        assert all(r["count"] <= 256 for r in per_group)
        got = {
            (r["event_type"], r["hll_estimate"])
            for r in hll_estimate_from_registers(
                regs, ["event_type"]
            ).collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_kmv_sketch_stream_parity(spark, fixture_stream):
    """Streaming KMV maintainer + shared finisher equal the batch
    kmv_sketch / kmv_overlap exactly, with ≤ k hashes of state."""
    from streamkit_spark.functions.sketch import kmv_overlap, kmv_sketch
    from streamkit_spark.streaming.cardinality import (
        finalize_kmv_overlap,
        kmv_sketch_stream,
    )

    k = 64
    uday = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.expr("(ts div 1000000) div 86400000").cast("string"),
    )
    batch = tables.load(spark, SF_DIR, "events").select(
        F.col("event_type").cast("string").alias("event_type"),
        uday.alias("v"),
    )
    want_hashes = {
        (r["event_type"], r["h"])
        for r in kmv_sketch(batch, "v", ["event_type"], k=k).collect()
    }
    want_overlap = {
        tuple(r) for r in kmv_overlap(batch, "v", "event_type", k=k).collect()
    }
    stream = fixture_stream.select(
        "event_type", uday.alias("v")
    )
    q = (
        kmv_sketch_stream(stream, "v", "event_type", k=k)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("parity_kmv")
        .start()
    )
    try:
        q.processAllAvailable()
        # latest row per group (single file batch → exactly one emission)
        sketches = spark.sql("SELECT * FROM parity_kmv")
        rows = sketches.collect()
        assert all(len(r["hs"]) <= k for r in rows)
        got_hashes = {
            (r["event_type"], h) for r in rows for h in r["hs"]
        }
        assert got_hashes == want_hashes
        got_overlap = {
            tuple(r)
            for r in finalize_kmv_overlap(sketches, "event_type", k=k).collect()
        }
        assert got_overlap == want_overlap and len(got_overlap) > 0
    finally:
        q.stop()


def test_histogram_quantile_stream_parity(spark, fixture_stream):
    """Streaming bucket-count aggregate + shared finisher equals the
    batch analytics.histogram_quantiles exactly (histogram_buckets on the
    stream, quantiles_from_histogram on its sink), and streaming state
    is bucket-bounded, not stream-length-bounded."""
    from streamkit_spark.functions.analytics import (
        histogram_buckets,
        histogram_quantiles,
        quantiles_from_histogram,
    )

    batch = tables.load(spark, SF_DIR, "events")
    expected = {
        tuple(r)
        for r in histogram_quantiles(batch, "event_type", "value").collect()
    }
    q = (
        histogram_buckets(fixture_stream, "event_type", "value")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_hist_buckets")
        .start()
    )
    try:
        q.processAllAvailable()
        buckets = spark.sql("SELECT * FROM parity_hist_buckets")
        # state bound: occupied buckets per group ≤ value range / width,
        # never row count
        per_group = buckets.groupBy("grp").count().collect()
        n_rows = batch.count()
        assert all(r["count"] < n_rows / 10 for r in per_group)
        got = {
            tuple(r)
            for r in quantiles_from_histogram(
                buckets, "event_type"
            ).collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_psi_stream_parity(spark, fixture_stream):
    """The SAME streaming bucket table feeds the PSI finisher: live
    drift monitoring equals the batch analytics.psi_profile exactly."""
    from streamkit_spark.functions.analytics import (
        histogram_buckets,
        psi_from_histogram,
        psi_profile,
    )

    batch = tables.load(spark, SF_DIR, "events")
    expected = {
        tuple(r)
        for r in psi_profile(batch, "event_type", "value").collect()
    }
    q = (
        histogram_buckets(fixture_stream, "event_type", "value")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_psi_buckets")
        .start()
    )
    try:
        q.processAllAvailable()
        buckets = spark.sql("SELECT * FROM parity_psi_buckets")
        got = {
            tuple(r)
            for r in psi_from_histogram(buckets, "event_type").collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_rankstats_stream_parity(spark, fixture_stream):
    """The SAME streaming (grp, v, c) cell table feeds ALL FIVE
    rank/value-stat finishers: live Mann-Whitney, KS, Cliff's delta,
    Gini, and winsorized-mean reports equal the batch analytics
    operators exactly (value_cells on the stream, the *_from_cells
    finishers on its sink), and state is cell-bounded."""
    from streamkit_spark.functions.analytics import (
        cliffs_delta_by_group,
        cliffs_from_cells,
        gini_by_group,
        gini_from_cells,
        ks_by_group,
        ks_from_cells,
        ranksum_by_group,
        ranksum_from_cells,
        value_cells,
        winsorized_from_cells,
        winsorized_stats,
    )

    batch = tables.load(spark, SF_DIR, "events")
    want_u = {
        tuple(r) for r in ranksum_by_group(batch, "event_type", "value").collect()
    }
    want_ks = {
        tuple(r) for r in ks_by_group(batch, "event_type", "value").collect()
    }
    want_cliffs = {
        tuple(r)
        for r in cliffs_delta_by_group(batch, "event_type", "value").collect()
    }
    want_gini = {
        tuple(r) for r in gini_by_group(batch, "event_type", "value").collect()
    }
    want_wins = {
        tuple(r)
        for r in winsorized_stats(batch, "event_type", "value").collect()
    }
    q = (
        value_cells(fixture_stream, "event_type", "value")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_value_cells")
        .start()
    )
    try:
        q.processAllAvailable()
        cells = spark.sql("SELECT * FROM parity_value_cells")
        # state bound: EXACTLY the distinct (grp, value) cell count of
        # the batch input, never the row count
        want_cells = (
            batch.filter(
                F.col("event_type").isNotNull() & F.col("value").isNotNull()
            )
            .select("event_type", F.col("value").cast("double"))
            .distinct()
            .count()
        )
        assert cells.count() == want_cells < batch.count()
        got_u = {
            tuple(r) for r in ranksum_from_cells(cells, "event_type").collect()
        }
        got_ks = {
            tuple(r) for r in ks_from_cells(cells, "event_type").collect()
        }
        assert got_u == want_u and len(got_u) > 0
        assert got_ks == want_ks and len(got_ks) > 0
        got_cliffs = {
            tuple(r) for r in cliffs_from_cells(cells, "event_type").collect()
        }
        assert got_cliffs == want_cliffs and len(got_cliffs) > 0
        got_gini = {
            tuple(r) for r in gini_from_cells(cells, "event_type").collect()
        }
        assert got_gini == want_gini and len(got_gini) > 0
        got_wins = {
            tuple(r)
            for r in winsorized_from_cells(cells, "event_type").collect()
        }
        assert got_wins == want_wins and len(got_wins) > 0
        from streamkit_spark.functions.analytics import (
            ad_by_group,
            ad_from_cells,
            theil_by_group,
            theil_from_cells,
        )

        want_theil = {
            tuple(r)
            for r in theil_by_group(batch, "event_type", "value").collect()
        }
        got_theil = {
            tuple(r) for r in theil_from_cells(cells, "event_type").collect()
        }
        assert got_theil == want_theil and len(got_theil) > 0
        want_ad = {
            tuple(r)
            for r in ad_by_group(batch, "event_type", "value").collect()
        }
        got_ad = {
            tuple(r) for r in ad_from_cells(cells, "event_type").collect()
        }
        assert got_ad == want_ad and len(got_ad) > 0
        from streamkit_spark.functions.analytics import (
            cvm_by_group,
            cvm_from_cells,
        )

        want_cvm = {
            tuple(r)
            for r in cvm_by_group(batch, "event_type", "value").collect()
        }
        got_cvm = {
            tuple(r) for r in cvm_from_cells(cells, "event_type").collect()
        }
        assert got_cvm == want_cvm and len(got_cvm) > 0
        from streamkit_spark.functions.analytics import (
            benford_by_group,
            benford_from_cells,
        )

        want_ben = {
            tuple(r)
            for r in benford_by_group(batch, "event_type", "value").collect()
        }
        got_ben = {
            tuple(r)
            for r in benford_from_cells(cells, "event_type").collect()
        }
        assert got_ben == want_ben and len(got_ben) > 0
        # 11th report: Jonckheere-Terpstra trend across the (sorted)
        # group keys — the ordering is arbitrary here, but parity is
        # what's pinned, and both sides use the same list
        from streamkit_spark.functions.analytics import (
            jt_from_cells,
            jt_trend_by_group,
        )

        gl = sorted(
            r["event_type"]
            for r in batch.select("event_type").distinct().collect()
            if r["event_type"] is not None
        )
        want_jt = [
            tuple(r)
            for r in jt_trend_by_group(
                batch, "event_type", "value", gl
            ).collect()
        ]
        got_jt = [tuple(r) for r in jt_from_cells(cells, gl).collect()]
        assert got_jt == want_jt and len(got_jt) == 1
    finally:
        q.stop()


def test_contingency_stream_parity(spark, fixture_stream):
    """The SAME streaming (r, c, o) contingency table feeds all three
    categorical-association finishers: live chi2, Cramér's V, and
    mutual-information reports equal the batch analytics operators
    exactly (contingency_cells on the stream, the *_from_cells finishers
    on its sink), and state is cell-bounded."""
    from streamkit_spark.functions.analytics import (
        chi2_from_cells,
        chi2_independence,
        contingency_cells,
        cramers_from_cells,
        cramers_v,
        mi_from_cells,
        mutual_information,
    )

    wd = F.expr("(ts div 86400000000000 + 4) % 7").cast("long").alias("weekday")
    batch = tables.load(spark, SF_DIR, "events").select("event_type", wd)
    want_chi2 = {
        tuple(r)
        for r in chi2_independence(batch, "event_type", "weekday").collect()
    }
    want_v = {
        tuple(r) for r in cramers_v(batch, "event_type", "weekday").collect()
    }
    want_mi = {
        tuple(r)
        for r in mutual_information(batch, "event_type", "weekday").collect()
    }
    stream = fixture_stream.select("event_type", wd)
    q = (
        contingency_cells(stream, "event_type", "weekday")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_contingency")
        .start()
    )
    try:
        q.processAllAvailable()
        cells = spark.sql("SELECT * FROM parity_contingency")
        # state bound: occupied contingency cells, never row count —
        # filter BOTH key columns exactly as contingency_cells does (a
        # regenerated fixture with one NULL ts must not flake this)
        want_cells = batch.filter(
            F.col("event_type").isNotNull() & F.col("weekday").isNotNull()
        ).distinct().count()
        assert cells.count() == want_cells < batch.count()
        got_chi2 = {tuple(r) for r in chi2_from_cells(cells).collect()}
        assert got_chi2 == want_chi2
        got_v = {tuple(r) for r in cramers_from_cells(cells).collect()}
        assert got_v == want_v
        got_mi = {tuple(r) for r in mi_from_cells(cells).collect()}
        assert got_mi == want_mi and len(got_mi) == 1
    finally:
        q.stop()


def test_kappa_stream_parity(spark, fixture_stream):
    """Cohen's kappa is the contingency sketch's agreement report: over
    the memory-sink cells of a streaming contingency_cells it equals the
    batch cohen_kappa exactly.  The two raters are labelings of one type
    (the weekday and the hour mod 7, as strings), so they share labels
    and both the agreement and the chance mass are non-trivial."""
    from streamkit_spark.functions.analytics import (
        cohen_kappa,
        contingency_cells,
        kappa_from_cells,
    )

    raters = [
        F.expr(f"(ts div {unit} + {shift}) % 7").cast("long").cast("string").alias(n)
        for n, unit, shift in (
            ("weekday", 86400000000000, 4),
            ("hour7", 3600000000000, 0),
        )
    ]
    batch = tables.load(spark, SF_DIR, "events").select(*raters)
    want = {tuple(r) for r in cohen_kappa(batch, "weekday", "hour7").collect()}
    q = (
        contingency_cells(fixture_stream.select(*raters), "weekday", "hour7")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_kappa")
        .start()
    )
    try:
        q.processAllAvailable()
        cells = spark.sql("SELECT * FROM parity_kappa")
        got = {tuple(r) for r in kappa_from_cells(cells).collect()}
        assert got == want and len(got) == 1
        (n, _, _, po, pe, _) = next(iter(got))
        assert n > 0 and po > 0 and pe > 0
    finally:
        q.stop()


def test_calibration_stream_parity(spark, fixture_stream):
    """The SAME streaming (bucket, n, pos, psum) calibration-cell table
    feeds BOTH calibration finishers: live ECE/MCE and Brier-
    decomposition reports equal the batch analytics operators exactly
    (calibration_cells on the stream, ece_from_cells / brier_from_cells
    on its sink), and state is bucket-bounded."""
    from streamkit_spark.functions.analytics import (
        brier_decomposition,
        brier_from_cells,
        calibration_cells,
        ece_from_cells,
        expected_calibration_error,
    )

    # a deterministic probability/outcome pair from the fixture: the
    # scaled value as the "prediction", a type flag as the outcome
    prob = F.least(
        F.greatest(F.col("value").cast("double") / F.lit(100.0), F.lit(0.0)),
        F.lit(1.0),
    ).alias("prob")
    label = (F.col("event_type") == F.lit("click")).alias("y")
    batch = tables.load(spark, SF_DIR, "events").select(prob, label)
    want_ece = {
        tuple(r)
        for r in expected_calibration_error(batch, "prob", "y").collect()
    }
    want_brier = {
        tuple(r) for r in brier_decomposition(batch, "prob", "y").collect()
    }
    stream = fixture_stream.select(prob, label)
    q = (
        calibration_cells(stream, "prob", "y")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_calibration")
        .start()
    )
    try:
        q.processAllAvailable()
        cells = spark.sql("SELECT * FROM parity_calibration")
        # state bound: occupied fixed-width bins only, never row count
        assert 0 < cells.count() <= 10
        got_ece = {tuple(r) for r in ece_from_cells(cells).collect()}
        assert got_ece == want_ece and len(got_ece) == 1
        got_brier = {tuple(r) for r in brier_from_cells(cells).collect()}
        assert got_brier == want_brier and len(got_brier) == 1
        # third report: AP of the bucket-quantized ranking — the live
        # finisher must equal ap_from_cells over the batch cell table
        from streamkit_spark.functions.analytics import (
            ap_from_cells,
            finalize_ap,
        )

        bc = calibration_cells(batch, "prob", "y").select(
            F.col("bucket").alias("s"), "pos", F.col("n").alias("tot")
        )
        want_ap = [tuple(r) for r in ap_from_cells(bc).collect()]
        got_ap = [tuple(r) for r in finalize_ap(cells).collect()]
        assert got_ap == want_ap and len(got_ap) == 1
        assert got_ap[0][-1] is not None
    finally:
        q.stop()


@pytest.fixture(scope="module")
def docs_stream(spark, tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("docs_stream")
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "documents.parquet")
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    return spark.readStream.schema(raw).parquet(str(d))


def test_token_cells_stream_parity(spark, docs_stream):
    """The SAME streaming (g, tk, c) token-cell table feeds ALL FIVE
    text-drift finishers: live KL, pairwise JSD, Kendall profile, RBO,
    and OOV reports equal the batch text operators exactly
    (token_cells on the stream, the *_from_cells finishers on its sink),
    and state is (group, token)-bounded."""
    from streamkit_spark.functions.text import (
        jsd_by_group_pairs,
        jsd_from_cells,
        kendall_profile_from_cells,
        kendall_profile_pairs,
        kl_by_group,
        kl_from_cells,
        oov_by_group,
        oov_from_cells,
        rbo_from_cells,
        rbo_pairs,
        token_cells,
    )

    batch = tables.load(spark, SF_DIR, "documents")
    want_kl = {tuple(r) for r in kl_by_group(batch).collect()}
    want_jsd = {tuple(r) for r in jsd_by_group_pairs(batch).collect()}
    want_tau = {tuple(r) for r in kendall_profile_pairs(batch).collect()}
    want_rbo = {tuple(r) for r in rbo_pairs(batch, k=10).collect()}
    want_oov = {tuple(r) for r in oov_by_group(batch, vocab_k=10).collect()}
    q = (
        token_cells(docs_stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_token_cells")
        .start()
    )
    try:
        q.processAllAvailable()
        cells = spark.sql("SELECT * FROM parity_token_cells")
        # state bound: occupied (group, token) cells, never rows × tokens
        want_cells = token_cells(batch).count()
        assert cells.count() == want_cells
        assert {tuple(r) for r in kl_from_cells(cells).collect()} == want_kl
        assert {tuple(r) for r in jsd_from_cells(cells).collect()} == want_jsd
        got_tau = {
            tuple(r) for r in kendall_profile_from_cells(cells).collect()
        }
        assert got_tau == want_tau and len(got_tau) > 0
        got_rbo = {tuple(r) for r in rbo_from_cells(cells, k=10).collect()}
        assert got_rbo == want_rbo and len(got_rbo) > 0
        got_oov = {
            tuple(r) for r in oov_from_cells(cells, vocab_k=10).collect()
        }
        assert got_oov == want_oov and len(got_oov) > 0
        from streamkit_spark.functions.text import (
            burrows_delta_pairs,
            burrows_from_cells,
        )

        want_bd = {
            tuple(r) for r in burrows_delta_pairs(batch, vocab_k=10).collect()
        }
        got_bd = {
            tuple(r) for r in burrows_from_cells(cells, vocab_k=10).collect()
        }
        assert got_bd == want_bd and len(got_bd) > 0
        from streamkit_spark.functions.text import (
            coverage_by_group,
            coverage_from_cells,
        )

        want_cov = {tuple(r) for r in coverage_by_group(batch).collect()}
        got_cov = {tuple(r) for r in coverage_from_cells(cells).collect()}
        assert got_cov == want_cov and len(got_cov) > 0
        # 8th + 9th reports: Monroe log-odds top-k and Hill diversity
        from streamkit_spark.functions.text import (
            diversity_from_cells,
            log_odds_by_group,
            log_odds_from_cells,
            token_diversity_by_group,
        )

        want_lo = {tuple(r) for r in log_odds_by_group(batch).collect()}
        got_lo = {tuple(r) for r in log_odds_from_cells(cells).collect()}
        assert got_lo == want_lo and len(got_lo) > 0
        want_td = {
            tuple(r) for r in token_diversity_by_group(batch).collect()
        }
        got_td = {tuple(r) for r in diversity_from_cells(cells).collect()}
        assert got_td == want_td and len(got_td) > 0
    finally:
        q.stop()


def test_novelty_stream_parity(spark, fixture_stream):
    """The maintained distinct (actor, day) relation feeds the novelty
    finisher: the live new/returning/cumulative report equals the batch
    analytics.user_novelty exactly (streaming/novelty.py maintains the
    relation, user_novelty reads its sink), and state is bounded by the
    distinct activity-pair count, never rows."""
    from streamkit_spark.functions.analytics import user_novelty
    from streamkit_spark.streaming.novelty import activity_pairs_stream

    day = F.expr("ts div 86400000000000").alias("day")
    batch = tables.load(spark, SF_DIR, "events").select("user_id", day)
    want = {tuple(r) for r in user_novelty(batch, "user_id", "day").collect()}
    stream = fixture_stream.select("user_id", day)
    q = (
        activity_pairs_stream(stream, "user_id", "day")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("parity_novelty")
        .start()
    )
    try:
        q.processAllAvailable()
        pairs = spark.sql("SELECT * FROM parity_novelty")
        want_pairs = (
            batch.filter(
                F.col("user_id").isNotNull() & F.col("day").isNotNull()
            )
            .distinct()
            .count()
        )
        assert pairs.count() == want_pairs < batch.count()
        got = {
            tuple(r)
            for r in user_novelty(pairs, "user_id", "day").collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_daily_series_stream_parity(spark, fixture_stream):
    """The SAME streaming (grp, day, y) daily-total table feeds all
    three daily-series finishers: live seasonal-strength, ACF, and
    cross-group correlation reports equal the batch
    analytics.seasonal_strength / acf_by_group / xcorr_daily exactly
    (daily_totals on the stream, the *_from_daily finishers on its
    sink), and state is (group, day)-bounded."""
    from streamkit_spark.functions.analytics import (
        acf_by_group,
        acf_from_daily,
        daily_totals,
        seasonal_from_daily,
        seasonal_strength,
        xcorr_daily,
        xcorr_from_daily,
    )

    batch = tables.load(spark, SF_DIR, "events")
    sel = lambda df: df.select(  # noqa: E731
        "event_type", F.expr("ts div 86400000000000").alias("day"), "value"
    )
    want_seasonal = {
        tuple(r)
        for r in seasonal_strength(
            sel(batch), "event_type", "day", "value"
        ).collect()
    }
    want_acf = {
        tuple(r)
        for r in acf_by_group(
            sel(batch), "event_type", "day", "value", max_lag=3
        ).collect()
    }
    want_xcorr = {
        tuple(r)
        for r in xcorr_daily(sel(batch), "event_type", "day", "value").collect()
    }
    q = (
        daily_totals(sel(fixture_stream), "event_type", "day", "value")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_daily_totals")
        .start()
    )
    try:
        q.processAllAvailable()
        daily = spark.sql("SELECT * FROM parity_daily_totals")
        # state bound: EXACTLY the batch (group, day) cell count
        want_cells = (
            sel(batch)
            .filter(
                F.col("event_type").isNotNull()
                & F.col("day").isNotNull()
                & F.col("value").isNotNull()
            )
            .select("event_type", "day")
            .distinct()
            .count()
        )
        assert daily.count() == want_cells < batch.count()
        got_seasonal = {
            tuple(r)
            for r in seasonal_from_daily(daily, "event_type").collect()
        }
        got_acf = {
            tuple(r)
            for r in acf_from_daily(daily, "event_type", max_lag=3).collect()
        }
        got_xcorr = {tuple(r) for r in xcorr_from_daily(daily).collect()}
        assert got_seasonal == want_seasonal and len(got_seasonal) > 0
        assert got_acf == want_acf and len(got_acf) > 0
        assert got_xcorr == want_xcorr and len(got_xcorr) > 0
        # sixth report off the same sketch: weekday-adjusted anomalies
        from streamkit_spark.functions.analytics import (
            weekday_adjusted_outliers,
            weekday_outliers_from_daily,
        )

        want_anom = {
            tuple(r)
            for r in weekday_adjusted_outliers(
                sel(batch), "event_type", "day", "value"
            ).collect()
        }
        got_anom = {
            tuple(r)
            for r in weekday_outliers_from_daily(
                daily, "event_type"
            ).collect()
        }
        # non-vacuity: the sf0.01 fixture produces real flagged days
        # (22 at last count) — {} == {} must not pass as parity
        assert got_anom == want_anom and len(got_anom) > 0
    finally:
        q.stop()


def test_interarrival_stream_parity(spark, fixture_stream):
    """Stateful gap extraction (streaming/interarrival.gap_stream,
    last-ts state per stream) + shared finisher equals the batch
    analytics.interarrival_stats exactly, and the emitted gap multiset
    equals the batch lag-window gaps."""
    from streamkit_spark.functions.analytics import (
        interarrival_from_gaps,
        interarrival_stats,
    )
    from streamkit_spark.streaming.interarrival import gap_stream

    sel = lambda df: df.select(  # noqa: E731
        "event_type",
        "user_id",
        F.expr("ts div 1000000").alias("ts_ms"),
        "event_id",
    )
    batch = sel(tables.load(spark, SF_DIR, "events"))
    expected = {
        tuple(r)
        for r in interarrival_stats(
            batch, "event_type", "user_id", "ts_ms", order_cols=("event_id",)
        ).collect()
    }
    q = (
        gap_stream(
            sel(fixture_stream),
            "event_type",
            "user_id",
            "ts_ms",
            order_cols=("event_id",),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("parity_gaps")
        .start()
    )
    try:
        q.processAllAvailable()
        gaps = spark.sql("SELECT * FROM parity_gaps")
        # the gap stream emits exactly rows - streams gaps (one per
        # consecutive pair; no retraction rows in append mode)
        n_streams = (
            batch.filter(
                F.col("event_type").isNotNull()
                & F.col("user_id").isNotNull()
                & F.col("ts_ms").isNotNull()
            )
            .select("event_type", "user_id")
            .distinct()
            .count()
        )
        n_rows = batch.filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("ts_ms").isNotNull()
        ).count()
        assert gaps.count() == n_rows - n_streams
        got = {
            tuple(r)
            for r in interarrival_from_gaps(gaps, "event_type").collect()
        }
        assert got == expected and len(got) > 0
    finally:
        q.stop()


def test_interarrival_stream_boundary_state_across_batches(
    spark, tmp_path
):
    """Gaps that SPAN micro-batches come from the stored last-ts state:
    two files processed one per trigger must yield the same gap
    multiset as one batch pass — including the boundary gap."""
    from streamkit_spark.streaming.interarrival import gap_stream

    rows_a = [("a", 1, 0, 1), ("a", 1, 10, 2), ("b", 2, 5, 3)]
    rows_b = [("a", 1, 25, 4), ("b", 2, 11, 5), ("b", 2, 14, 6)]
    schema = "event_type string, user_id long, ts_ms long, event_id long"
    d = tmp_path / "stream_in"
    d.mkdir()
    # file names order the triggers; one file per micro-batch
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(
        str(tmp_path / "a")
    )
    spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(
        str(tmp_path / "b")
    )
    import os
    import shutil
    import time

    now = time.time()
    for i, src in enumerate(("a", "b")):
        part = next((tmp_path / src).glob("part-*.parquet"))
        dst = d / f"{i}.parquet"
        shutil.copy(part, dst)
        # the file source orders triggers by modification time — pin
        # distinct mtimes or both files race into one arbitrary order
        os.utime(dst, (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        gap_stream(stream, "event_type", "user_id", "ts_ms",
                   order_cols=("event_id",))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("parity_gaps_boundary")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["event_type"], r["gap"])
            for r in spark.sql("SELECT * FROM parity_gaps_boundary").collect()
        )
        # a: 0->10->25 gaps 10, 15 (15 spans the batch boundary);
        # b: 5->11->14 gaps 6, 3 (6 spans the boundary)
        assert got == [("a", 10), ("a", 15), ("b", 3), ("b", 6)]
    finally:
        q.stop()


def test_gap_stream_preserves_numeric_group_type(spark, tmp_path):
    """Grouping streams by a LONG column must keep the long type in the
    gap output (the kmv_sketch_stream type-fidelity discipline)."""
    from streamkit_spark.streaming.interarrival import gap_stream

    schema = "user_id long, k string, ts_ms long"
    d = tmp_path / "in"
    d.mkdir()
    spark.createDataFrame(
        [(7, "s", 0), (7, "s", 4)], schema
    ).coalesce(1).write.parquet(str(tmp_path / "f"))
    import shutil

    shutil.copy(
        next((tmp_path / "f").glob("part-*.parquet")), d / "0.parquet"
    )
    stream = spark.readStream.schema(schema).parquet(str(d))
    q = (
        gap_stream(stream, "user_id", "k", "ts_ms")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("parity_gaps_longgrp")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM parity_gaps_longgrp")
        assert dict(out.dtypes)["user_id"] == "bigint"
        rows = out.collect()
        assert [(r["user_id"], r["gap"]) for r in rows] == [(7, 4)]
    finally:
        q.stop()


def test_cusum_finisher_on_streaming_daily_table(spark, fixture_stream):
    """The streaming daily-total table's FIFTH report: cusum_from_daily
    over the daily_totals sink equals the batch
    analytics.cusum_changepoint exactly (the finisher is decimal-width
    agnostic — (18,2) sketch sums vs the batch path's un-narrowed
    (28,2) sums carry identical values)."""
    from streamkit_spark.functions.analytics import (
        cusum_changepoint,
        cusum_from_daily,
        daily_totals,
    )

    batch = tables.load(spark, SF_DIR, "events")
    sel = lambda df: df.select(  # noqa: E731
        "event_type", F.expr("ts div 86400000000000").alias("day"), "value"
    )
    expected = {
        tuple(r)
        for r in cusum_changepoint(
            sel(batch), "event_type", "day", "value"
        ).collect()
    }
    q = (
        daily_totals(sel(fixture_stream), "event_type", "day", "value")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_daily_cusum")
        .start()
    )
    try:
        q.processAllAvailable()
        daily = spark.sql("SELECT * FROM parity_daily_cusum")
        got = {
            tuple(r) for r in cusum_from_daily(daily, "event_type").collect()
        }
        assert got == expected and len(got) > 0
    finally:
        q.stop()


def test_association_stream_parity_fixture(spark, fixture_stream):
    """Streaming (basket, item) distinct maintenance + the batch
    operator over its sink equals batch analytics.association_rules
    exactly over the fixture (baskets = user-days, items = event
    types)."""
    from streamkit_spark.functions.analytics import association_rules
    from streamkit_spark.streaming.association import basket_items_stream

    day = F.expr("ts div 86400000000000").alias("day")
    batch = tables.load(spark, SF_DIR, "events").select(
        "user_id", day, "event_type"
    )
    expected = {
        tuple(r)
        for r in association_rules(
            batch, ["user_id", "day"], "event_type"
        ).collect()
    }
    stream = fixture_stream.select("user_id", day, "event_type")
    q = (
        basket_items_stream(stream, ["user_id", "day"], "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("parity_assoc")
        .start()
    )
    try:
        q.processAllAvailable()
        pairs = spark.sql("SELECT * FROM parity_assoc")
        # state/output cardinality bound: distinct (basket, item) pairs
        assert pairs.count() == batch.dropDuplicates(
            ["user_id", "day", "event_type"]
        ).count()
        got = {
            tuple(r)
            for r in association_rules(
                pairs, ["user_id", "day"], "event_type"
            ).collect()
        }
        assert got == expected and len(got) > 0
    finally:
        q.stop()


def test_association_stream_retroactive_pairs_across_batches(spark, tmp_path):
    """The re-keying trap (CLAUDE r5): a later micro-batch adds item C
    to a basket already holding {A, B} — the retroactive pairs (A,C) and
    (B,C) must be counted exactly once, and replayed items must not
    double-count.  Per-batch pair-count summation gets BOTH wrong; the
    maintained distinct relation gets both right."""
    from streamkit_spark.functions.analytics import association_rules
    from streamkit_spark.streaming.association import basket_items_stream

    schema = "basket string, item string"
    rows_a = [("b1", "A"), ("b1", "B"), ("b2", "A"), ("b2", "C")]
    # batch 2: retroactive C into b1, replay of (b2, A), and a null item
    rows_b = [("b1", "C"), ("b2", "A"), ("b3", "B"), ("b3", None)]
    d = tmp_path / "stream_in"
    d.mkdir()
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(
        str(tmp_path / "a")
    )
    spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(
        str(tmp_path / "b")
    )
    import os
    import shutil
    import time

    now = time.time()
    for i, src in enumerate(("a", "b")):
        part = next((tmp_path / src).glob("part-*.parquet"))
        dst = d / f"{i}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        basket_items_stream(stream, ["basket"], "item")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("parity_assoc_boundary")
        .start()
    )
    try:
        q.processAllAvailable()
        pairs = spark.sql("SELECT * FROM parity_assoc_boundary")
        # replay emitted nothing: 4 + (1 new + 1 for b3's B) = 6 rows
        assert pairs.count() == 6
        batch_all = spark.createDataFrame(rows_a + rows_b, schema)
        expected = {
            tuple(r)
            for r in association_rules(batch_all, ["basket"], "item").collect()
        }
        got_rules = association_rules(pairs, ["basket"], "item")
        got = {tuple(r) for r in got_rules.collect()}
        assert got == expected
        by_pair = {
            (r["antecedent"], r["consequent"]): r["n_pair"]
            for r in got_rules.collect()
        }
        # retroactive pairs exist exactly once; (A,C) co-occurs in b1 AND b2
        assert by_pair[("A", "C")] == 2 and by_pair[("B", "C")] == 1
    finally:
        q.stop()


def test_bootstrap_stream_parity(spark, docs_stream):
    """The streaming (group, replicate, n_b, s_b) bootstrap sketch
    (bootstrap_replicates on the stream) converges to the batch replicate
    table —
    weights are pure functions of (salt, replicate, id), so micro-batch
    sketches merge by addition — and the shared finisher reproduces
    analytics.poisson_bootstrap_ci exactly.  State is
    |groups| x (b + 1)-bounded, never row count."""
    from pyspark.sql import functions as F

    from streamkit_spark.functions.analytics import (
        bootstrap_ci_from_replicates,
        bootstrap_replicates,
        poisson_bootstrap_ci,
    )
    from streamkit_spark.functions.text import token_count

    val = token_count("text").cast("long").alias("ntok")
    batch = (
        tables.load(spark, SF_DIR, "documents")
        .select("doc_id", "source", val)
    )
    want = {
        tuple(r)
        for r in poisson_bootstrap_ci(
            batch, "source", "ntok", id_col="doc_id", b=50
        ).collect()
    }
    stream = docs_stream.select("doc_id", "source", val)
    q = (
        bootstrap_replicates(stream, "source", "ntok", id_col="doc_id", b=50)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_bootstrap")
        .start()
    )
    try:
        q.processAllAvailable()
        rep = spark.sql("SELECT * FROM parity_bootstrap")
        n_groups = batch.filter(F.col("source").isNotNull()).select(
            "source"
        ).distinct().count()
        # state bound: one row per (group, replicate incl. the point
        # row), never document count
        assert rep.count() == n_groups * 51
        got = {
            tuple(r)
            for r in bootstrap_ci_from_replicates(rep, "source").collect()
        }
        assert got == want and len(got) == n_groups
    finally:
        q.stop()


def test_streaming_twins_state_stays_cell_bounded(spark, fixture_stream, tmp_path):
    """The streaming twins keep one state row per occupied cell: read
    from StreamProgressListener's state-operator rows, the state of a
    streaming contingency_cells stays within its occupied (r, c) cells
    (≤ r × c) and that of a streaming token_cells within its occupied
    (group, token) cells (≤ groups × vocabulary) — never the row count."""
    import shutil
    import time

    from streamkit_spark.functions.analytics import contingency_cells
    from streamkit_spark.functions.text import token_cells, tokens
    from streamkit_spark.telemetry import StreamProgressListener

    wd = F.expr("(ts div 86400000000000 + 4) % 7").cast("long").alias("weekday")
    ev = tables.load(spark, SF_DIR, "events").select("event_type", wd)
    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", docs_dir / "documents.parquet")
    docs_schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    docs = tables.load(spark, SF_DIR, "documents")

    def bound(cells, a, b):
        """(occupied cells, the full a × b grid) of a batch cell table."""
        n_a, n_b = (cells.select(k).distinct().count() for k in (a, b))
        return cells.count(), n_a * n_b

    cases = {
        "state_contingency": (
            contingency_cells(
                fixture_stream.select("event_type", wd), "event_type", "weekday"
            ),
            bound(contingency_cells(ev, "event_type", "weekday"), "r", "c"),
            ev.count(),
        ),
        "state_tokens": (
            token_cells(spark.readStream.schema(docs_schema).parquet(str(docs_dir))),
            bound(token_cells(docs), "g", "tk"),
            docs.select(F.explode(tokens("text"))).count(),
        ),
    }
    for name, (cells, (occupied, grid), n_rows) in cases.items():
        lst = StreamProgressListener()
        spark.streams.addListener(lst.listener)
        q = (
            cells.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.table(name).count() == occupied
        finally:
            q.stop()
            spark.streams.removeListener(lst.listener)
        deadline = time.time() + 15  # listener callbacks are async
        while time.time() < deadline and not lst.progress():
            time.sleep(0.2)
        state = lst.summary()["max_state_rows"]
        assert 0 < state <= occupied <= grid, (name, state, occupied, grid)
        assert occupied < n_rows, name
