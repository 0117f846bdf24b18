"""Telemetry surface tests: Observation-backed in-job metrics, driver
counters, nested spans with error capture, the flat report DataFrame,
the bounded streaming progress listener, the generated-class cache
that ``get_spark`` sizes (read through ``codegen_compiles``), and the
py4j cost of building plans once ``get_spark`` turns off PySpark's
call-site capture."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from streamkit_spark import tables
from streamkit_spark.telemetry import StreamProgressListener, Telemetry, codegen_compiles
from tests.conftest import SF_DIR


class TestObserve:
    def test_metrics_match_direct_aggregate(self, spark):
        tel = Telemetry()
        ev = tables.load(spark, SF_DIR, "events")
        observed = tel.observe(
            ev.filter(F.col("value") > 100),
            "hot_scan",
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        n_out = observed.count()  # the action that feeds the observation
        got = tel.metrics("hot_scan")
        direct = (
            ev.filter(F.col("value") > 100)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .collect()[0]
        )
        assert got["rows"] == n_out == direct["rows"]
        assert got["sum_value"] == direct["sum_value"]

    def test_default_metric_is_row_count(self, spark):
        tel = Telemetry()
        df = tel.observe(spark.range(37), "rng")
        df.count()
        assert tel.metrics("rng")["rows"] == 37


class TestCountersAndSpans:
    def test_counters_accumulate(self, spark):
        tel = Telemetry()
        tel.counter("produce.appends")
        tel.counter("produce.appends", 2)
        assert tel.counters == {"produce.appends": 3}

    def test_spans_nest_and_record_errors(self, spark):
        tel = Telemetry()
        with tel.span("outer"):
            with tel.span("inner"):
                pass
            with pytest.raises(ValueError):
                with tel.span("boom"):
                    raise ValueError("x")
        spans = tel.spans
        by_name = {s["name"]: s for s in spans}
        # children close before the parent
        assert [s["name"] for s in spans] == ["inner", "boom", "outer"]
        assert by_name["inner"]["parent"] == "outer"
        assert by_name["inner"]["depth"] == 1
        assert by_name["outer"]["parent"] is None
        assert by_name["boom"]["error"] == "ValueError"
        assert by_name["outer"]["error"] is None
        assert all(s["seconds"] >= 0 for s in spans)

    def test_span_deque_is_bounded(self, spark):
        tel = Telemetry(max_spans=5)
        for i in range(9):
            with tel.span(f"s{i}"):
                pass
        assert len(tel.spans) == 5
        assert tel.spans[0]["name"] == "s4"


class TestReport:
    def test_report_shape_and_content(self, spark):
        tel = Telemetry()
        tel.counter("retries", 4)
        df = tel.observe(spark.range(10), "scan")
        df.count()
        with tel.span("work"):
            pass
        rep = {(r["kind"], r["name"], r["metric"]): r for r in tel.report(spark).collect()}
        assert rep[("counter", "retries", "count")]["value"] == 4.0
        assert rep[("observation", "scan", "rows")]["value"] == 10.0
        assert ("span", "work", "seconds") in rep

    def test_non_numeric_and_bool_metrics_not_dropped(self, spark):
        """ADVICE r6: a min/max over a string column must land in the
        report (value NULL, payload in text_value); bools are explicit
        1.0/0.0 with 'true'/'false' text."""
        tel = Telemetry()
        df = spark.createDataFrame(
            [("apple", 1), ("pear", 2)], "word string, n int"
        )
        obs = tel.observe(
            df,
            "mixed",
            F.max("word").alias("max_word"),
            F.bool_and(F.col("n") > 0).alias("all_pos"),
            F.sum("n").alias("total"),
        )
        obs.count()
        rep = {
            (r["kind"], r["name"], r["metric"]): r
            for r in tel.report(spark).collect()
        }
        sm = rep[("observation", "mixed", "max_word")]
        assert sm["value"] is None and sm["text_value"] == "pear"
        bm = rep[("observation", "mixed", "all_pos")]
        assert bm["value"] == 1.0 and bm["text_value"] == "true"
        nm = rep[("observation", "mixed", "total")]
        assert nm["value"] == 3.0 and nm["text_value"] is None

    def test_numeric_looking_string_metric_stays_text(self, spark):
        """max over STRING ids like '00042' must keep its payload in
        text_value — float('00042') succeeding is not numericness
        (r7 review fix)."""
        tel = Telemetry()
        df = spark.createDataFrame(
            [("00042",), ("00007",)], "order_id string"
        )
        obs = tel.observe(df, "ids", F.max("order_id").alias("max_id"))
        obs.count()
        rep = {
            (r["kind"], r["name"], r["metric"]): r
            for r in tel.report(spark).collect()
        }
        m = rep[("observation", "ids", "max_id")]
        assert m["value"] is None and m["text_value"] == "00042"

    def test_unrun_observation_skipped(self, spark):
        tel = Telemetry()
        tel.observe(spark.range(5), "never_run")
        tel.counter("c")
        kinds = {r["kind"] for r in tel.report(spark).collect()}
        assert kinds == {"counter"}


class TestStreamListener:
    def test_progress_captured_and_summarized(self, spark, tmp_path):
        d = tmp_path / "events_stream"
        d.mkdir()
        shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
        raw = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        stream = tables.normalize_events(
            spark.readStream.schema(raw).parquet(str(d))
        )
        n_src = spark.read.parquet(f"{SF_DIR}/events.parquet").count()

        lst = StreamProgressListener()
        spark.streams.addListener(lst.listener)
        q = (
            stream.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("tel_probe")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            spark.streams.removeListener(lst.listener)
        # listener callbacks are async — poll briefly for the events
        import time

        deadline = time.time() + 15
        while time.time() < deadline and not lst.progress():
            time.sleep(0.2)
        s = lst.summary()
        assert s["batches"] >= 1
        assert s["input_rows"] == n_src
        assert s["max_state_rows"] >= 1

    def test_batch_breakdown_and_state_commit_kept(self, spark, tmp_path):
        src = tmp_path / "parts"
        for i in range(3):  # one file per micro-batch
            spark.range(i * 10, i * 10 + 10).selectExpr("id % 3 AS k").coalesce(
                1
            ).write.parquet(str(src / f"p{i}"))
        files = tmp_path / "stream"
        files.mkdir()
        for i in range(3):
            for f in (src / f"p{i}").glob("*.parquet"):
                shutil.copy(f, files / f"p{i}-{f.name}")

        lst = StreamProgressListener(maxlen=2)
        spark.streams.addListener(lst.listener)
        q = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(files))
            .groupBy("k")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("tel_breakdown")
            .start()
        )
        try:
            q.processAllAvailable()
            batches = len(q.recentProgress)
        finally:
            q.stop()
            spark.streams.removeListener(lst.listener)
        import time

        deadline = time.time() + 15
        while time.time() < deadline and not any(
            e["kind"] == "terminated" for e in lst.events()
        ):
            time.sleep(0.2)
        assert batches >= 3
        prog = lst.progress()
        assert prog and len(lst.events()) <= 2  # maxlen holds
        for p in prog:
            assert {"triggerExecution", "addBatch", "walCommit"} <= set(p["duration_ms"])
            assert p["batch_ms"] == p["duration_ms"]["triggerExecution"]
            assert len(p["state_commit_ms"]) == 1  # one stateful aggregate
            assert p["state_commit_ms"][0] >= 0
        s = lst.summary()
        assert set(s["mean_duration_ms"]) == set().union(*(p["duration_ms"] for p in prog))
        assert s["mean_state_commit_ms"] is not None
        assert s["mean_duration_ms"]["addBatch"] >= 0


# perfbench corpus_catalog's eleven catalog queries.
CATALOG = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue", "monthly_revenue", "topk_orders_per_customer",
    "cube_revenue", "quantile_report", "value_trend", "hll_distinct",
    "doc_token_stats", "ann_topk_bruteforce",
)


class TestCodegenCache:
    def test_get_spark_sizes_the_cache(self, spark):
        assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"

    def test_warm_catalog_pass_compiles_nothing(self, spark):
        """Two passes over the catalog: the second compiles no class.  With
        Spark's 100-entry cache one pass makes more classes than the cache
        holds, and the second pass recompiles them all."""
        import __spark_entry__

        queries = __spark_entry__.queries()

        def one_pass() -> dict[str, int]:
            out = {}
            for name in CATALOG:
                before = codegen_compiles(spark)[0]
                queries[name](spark, SF_DIR).collect()
                out[name] = codegen_compiles(spark)[0] - before
            return out

        one_pass()
        assert one_pass() == {name: 0 for name in CATALOG}

    def test_codegen_compiles_counts_a_new_class(self, spark):
        """The pin above reads zero deltas; this shows the reading moves."""
        n0, ms0 = codegen_compiles(spark)
        # a literal no earlier plan holds: new source text, one compile at least
        spark.range(7).selectExpr(f"id * {n0 + 7919} AS x").collect()
        n1, ms1 = codegen_compiles(spark)
        assert n1 > n0 and ms1 > ms0


class TestBuildCost:
    def test_get_spark_turns_off_call_site_capture(self, spark):
        from pyspark.errors.utils import is_debugging_enabled

        assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
        assert is_debugging_enabled() is False

    def test_catalog_build_py4j_commands(self, spark, monkeypatch):
        """Building (not collecting) the eleven catalog queries sends
        2000-2300 py4j commands; with PySpark's call-site capture on,
        every Column and ``functions`` call adds about 7, and the same
        builds send 5300-6300.  The count includes the deletes py4j sends
        as Python drops JVM object handles, which vary with the garbage
        collector, hence the margin.  PySpark reads the setting once per
        process, at the first Column call, so this pin reads whichever
        session was active then."""
        import __spark_entry__
        from py4j.clientserver import ClientServerConnection

        queries = __spark_entry__.queries()
        for name in CATALOG:  # table loads and their caches, untimed
            queries[name](spark, SF_DIR)
        sent = [0]
        send = ClientServerConnection.send_command

        def counted(self, command):
            sent[0] += 1
            return send(self, command)

        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        for name in CATALOG:
            queries[name](spark, SF_DIR)
        assert 0 < sent[0] < 3000
