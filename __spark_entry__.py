"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` is the declared-query corpus from SURVEY.md §2 — every
implemented operator has one entry here, and (where SQL-expressible) a
DuckDB oracle in ``oracle_sql()``.  The driver runs both at sf=0.01 and
compares row-count + schema + order-insensitive value-hash.

Conventions keeping the hash comparable:
* event timestamps are normalized to epoch-ms longs (``ts div 1000000`` on
  the nanos fixture / ``epoch_ms`` in DuckDB);
* dates are formatted ``yyyy-MM-dd`` strings;
* every computed double is ``round(x, 4)`` on both sides;
* every aggregate/computed column is aliased identically on both sides;
* every query carries a deterministic ORDER BY (total tiebreak) so LIMIT
  sets are stable.

The fixture ``events`` table binds the streamkit hierarchy as
space=event_type, segment=user_id, sequence=event_id (see
streamkit_spark/schema.py: FIXTURE_BINDING).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from streamkit_spark import tables
from streamkit_spark.functions import dedup as D
from streamkit_spark.functions import similarity as SIM
from streamkit_spark.functions import text as TX
from streamkit_spark.operators.consume import (
    ConsumeBounds,
    consume,
    consume_segment,
    consume_space,
    peek,
    peek_all,
)
from streamkit_spark.operators.status import get_segments, get_spaces, segment_status
from streamkit_spark.schema import FIXTURE_BINDING

B = FIXTURE_BINDING

# Fixed scan bounds used by the streamkit read-surface queries (epoch ms).
TS_MIN = 1704153600000  # 2024-01-02 00:00:00 UTC, exclusive
TS_MAX = 1705276800000  # 2024-01-15 00:00:00 UTC, inclusive
CURSOR = (1704500000000, "7", 0)  # (ts_ms, segment, sequence), strictly-after
CURSOR2 = (1704300000000, "3", 0)

_EV_OUT = "event_id, ts div 1000000 AS ts_ms, user_id, event_type, value, props"
_EV_OUT_SQL = "event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props"


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


def _ev_out(df: DataFrame) -> DataFrame:
    return df.selectExpr(*_EV_OUT.split(", "))


# --------------------------------------------------------------------------
# streamkit read surface (SURVEY §2.1/2.2/2.5/2.6) on the events table
# --------------------------------------------------------------------------

def q_s1_consume_segment(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = consume_segment(
        df, "click", 3, ConsumeBounds(min_sequence=50, max_sequence=5000), binding=B
    )
    return _ev_out(out)


def q_s1_tail_window(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = consume_segment(
        df, "view", 2, ConsumeBounds(min_sequence=200, limit=50), binding=B
    )
    return _ev_out(out)


def q_s2_consume_space(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = consume_space(
        df, "purchase", ConsumeBounds(min_ts=TS_MIN, max_ts=TS_MAX), binding=B
    )
    return _ev_out(out)


def q_s2_cursor_resume(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = consume_space(df, "purchase", cursor=CURSOR, binding=B)
    return _ev_out(out)


def q_s3_consume_merge(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = consume(
        df,
        {"click": CURSOR2, "view": None},
        ConsumeBounds(max_ts=TS_MAX, limit=500),
        binding=B,
    )
    return _ev_out(out)


def q_s4_peek(spark, sf_dir):
    df = _ev(spark, sf_dir)
    return _ev_out(peek(df, "error", 5, binding=B))


def q_w1_peek_all(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = peek_all(df, binding=B)
    return out.select(
        "space",
        F.col("segment").cast("long").alias("segment"),
        F.col("event_id").alias("sequence"),
        F.expr("ts div 1000000").alias("ts_ms"),
        "value",
    ).orderBy("space", "segment")


def q_a1_segment_status(spark, sf_dir):
    return segment_status(_ev(spark, sf_dir), binding=B).withColumn(
        "segment", F.col("segment").cast("long")
    )


def q_a2_spaces(spark, sf_dir):
    return get_spaces(_ev(spark, sf_dir), binding=B)


def q_a2_segments(spark, sf_dir):
    return get_segments(_ev(spark, sf_dir), "signup", binding=B).withColumn(
        "segment", F.col("segment").cast("long")
    )


def q_f2_ts_filter_count(spark, sf_dir):
    df = _ev(spark, sf_dir)
    out = consume_space(
        df, "error", ConsumeBounds(min_ts=TS_MIN, max_ts=TS_MAX), binding=B,
        ordered=False,
    )
    return out.agg(F.count("*").alias("n"))


def q_w2_sequence_gaps(spark, sf_dir):
    df = _ev(spark, sf_dir)
    w = Window.partitionBy("event_type", "user_id").orderBy("event_id")
    d = (F.col("event_id") - F.lag("event_id").over(w)).alias("d")
    return (
        df.select("event_type", "user_id", d)
        .groupBy(F.col("event_type").alias("space"), F.col("user_id").alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.max("d").alias("max_gap"),
            F.min("d").alias("min_gap"),
        )
        .orderBy("space", "segment")
    )


def q_w3_first_entry(spark, sf_dir):
    df = _ev(spark, sf_dir)
    return (
        df.groupBy(F.col("event_type").alias("space"), F.col("user_id").alias("segment"))
        .agg(F.min_by(F.expr("ts div 1000000"), F.col("event_id")).alias("first_ts"))
        .orderBy("space", "segment")
    )


def q_x3_json_extract(spark, sf_dir):
    df = _ev(spark, sf_dir)
    return (
        df.select(F.get_json_object("props", "$.k").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("n"))
        .orderBy("k_val")
    )


def q_f5_validation_count(spark, sf_dir):
    df = _ev(spark, sf_dir)
    bad = (
        F.col("props").isNull()
        | F.col("value").isNull()
        | (F.col("event_type") == "")
        | F.col("event_id").isNull()
    )
    return df.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_invalid"),
    )


# --------------------------------------------------------------------------
# Relational extensions (SURVEY §2.3/§2.8) on the TPC-H-ish tables
# --------------------------------------------------------------------------

def q_tpch_q1_pricing_summary(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    # Money/quantity aggregates go through exact DECIMAL so the result is
    # independent of FP summation order (partition count) and matches the
    # oracle bit-for-bit; cast to double only at the end.
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 4).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 4).alias("sum_base_price"),
            F.round(F.sum(price * (1 - disc)).cast("double"), 4).alias("sum_disc_price"),
            F.round(
                F.sum(price * (1 - disc) * (1 + tax)).cast("double"), 4
            ).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q3_shipping_priority(spark, sf_dir):
    cust = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = tables.load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q_tpch_q5_region_revenue(spark, sf_dir):
    region = tables.load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = tables.load(spark, sf_dir, "nation")
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    supp = tables.load(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


def q_topk_orders_per_customer(spark, sf_dir):
    orders = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "rank",
        )
        .orderBy("o_custkey", "rank")
    )


def q_monthly_revenue(spark, sf_dir):
    orders = tables.load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month"
            )
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 4)
            .alias("revenue"),
            F.count("*").alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
        .orderBy("month")
    )


def q_part_brand_stats(spark, sf_dir):
    part = tables.load(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_price"),
            F.count_distinct("p_type").alias("n_types"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


def q_tpch_q6_forecast_revenue(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(price * disc).cast("double"), 4).alias("revenue"))
    )


def q_tpch_q4_order_priority(spark, sf_dir):
    """Q4 shape: orders with at least one late lineitem (semi join +
    grouped count)."""
    orders = tables.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = tables.load(spark, sf_dir, "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    return (
        orders.join(late.select("l_orderkey").distinct(),
                    orders.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q10_returned_items(spark, sf_dir):
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = tables.load(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), "c_custkey").limit(20)


def q_tpch_q18_large_orders(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 4)
             .alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                "o_totalprice", "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


def q_tpch_q19_disjunctive(spark, sf_dir):
    """Q19 shape: disjunction of (brand, size, quantity) bands — exercises
    OR-of-ANDs predicate pushdown and join with residual filters."""
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band1 = (
        (F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    band2 = (
        (F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 30))
    )
    band3 = (
        (F.col("p_type") == "PROMO") & (F.col("p_size") >= 20)
        & (F.col("l_quantity") >= 25)
    )
    return (
        j.filter(band1 | band2 | band3)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q14_promo_share(spark, sf_dir):
    """Q14 shape: conditional-aggregate ratio (promo revenue share)."""
    li = tables.load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    part = tables.load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # sum(when(cond, x)) skips NULLs — the conditional sum without a
    # type-juggled otherwise branch
    return j.agg(
        F.round(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
            * 100
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_pct")
    )


# --------------------------------------------------------------------------
# LLM-data-pipeline operators (north-star): dedup / text / similarity
# --------------------------------------------------------------------------

def q_dedup_exact_groups(spark, sf_dir):
    """The synthetic corpus has no byte-identical texts, so a bare run
    matches vacuously (0 rows both engines — r1 advice).  Plant
    deterministic duplicates (every 40th doc re-keyed by +1_000_000) so
    the groupBy/min_by logic is exercised on real output: keep_id must be
    the ORIGINAL id, n_docs the plant multiplicity."""
    docs = tables.load(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 40 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return D.exact_duplicate_groups(docs.unionByName(planted))


def q_doc_fingerprints(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id", TX.fingerprint("text").alias("fp")
    ).orderBy("doc_id")


def q_doc_token_stats(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
        F.round(TX.avg_token_length("text"), 4).alias("avg_token_len"),
        F.round(TX.stopword_ratio("text"), 4).alias("stopword_ratio"),
    ).orderBy("doc_id")


def q_lang_summary(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, n=3, threshold=0.6)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-banded LSH near-dup (scale path).  The exact-Jaccard verify
    on LSH candidates means the output equals the exact all-pairs
    computation wherever banding recall holds — on the fixture the minimum
    qualifying jaccard is 0.90, so per-pair recall at 16 bands × 4 rows is
    1-(1-0.9⁴)^16 ≈ 1-4e-8; the oracle is therefore the exact-Jaccard SQL
    (equality also asserted in tests/test_dedup.py)."""
    docs = tables.load(spark, sf_dir, "documents")
    out = D.minhash_lsh_pairs(docs, threshold=0.6)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs with the md5-prefix token hash (byte-identical
    in DuckDB, so the oracle mirrors the fingerprints exactly).  The
    pigeonhole band candidate step is exact, so the output equals the
    oracle's all-pairs hamming ≤ 3.  Production default stays xxhash64."""
    docs = tables.load(spark, sf_dir, "documents")
    out = D.simhash_pairs(docs, max_hamming=3, hash_fn="md5")
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def q_ann_topk_bruteforce(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.brute_force_topk(emb, queries, k=5, round_digits=4)


def q_ann_topk_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN (rows-only; validated in tests for recall@k
    against brute force)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.lsh_topk(emb, queries, k=5, bits=4, n_tables=8, round_digits=4, dim=64)


def q_embedding_norms(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return emb.select(
        "vec_id",
        F.round(SIM.l2_norm(F.col("embedding")), 4).alias("l2"),
        F.size("embedding").cast("long").alias("dim"),
        "label",
    ).orderBy("vec_id")


def q_embedding_near_dups(spark, sf_dir):
    """Multi-table hyperplane-LSH near-dup pairs, exact-cosine verified.

    The fixture's natural max pairwise cosine is ~0.5 — no true near-dups —
    so plant them: every 40th vector re-keyed (+1e6) with +0.05 on
    coordinate 0 (unit vectors → cos ≈ 0.9987 to its source).  That is the
    regime LSH near-dup mining is FOR: p(0.9987) ≈ 0.984, 8 bits × 4
    tables → per-pair recall 1-(1-p⁸)⁴ ≈ 0.9998 with candidates cut
    ~2⁸/T vs all-pairs.  (The old threshold-0.45 variant collided every
    bucket — LSH degenerates to all-pairs below ~0.9; that setting lives
    on in pytest recall tests, not here.)  Oracle = exact all-pairs
    cosine ≥ 0.95 over the same planted corpus."""
    emb = tables.load(spark, sf_dir, "embeddings")
    embd = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # (element, index) two-param transform — 0-based index
    planted = embd.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
        ).alias("embedding"),
    )
    corpus = embd.unionByName(planted)
    return SIM.embedding_near_dup_pairs(
        corpus, threshold=0.95, bits=8, n_tables=4, round_digits=4, dim=64
    )


# --------------------------------------------------------------------------
# Time-series / window / set-op extensions
# --------------------------------------------------------------------------

def q_asof_purchase_click(spark, sf_dir):
    """Backward as-of join: each purchase picks up the user's latest click
    at-or-before it (operators/asof.py — union-tag + running window)."""
    from streamkit_spark.operators.asof import asof_join

    ev = _ev(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", F.expr("ts div 1000000").alias("ts_ms"), "event_type"
    )
    purchases = base.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = base.filter(F.col("event_type") == "click").drop("event_type")
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts_ms", right_ts="ts_ms",
        right_cols=["event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("ts_ms_asof").alias("last_click_ts"),
        F.col("event_id_asof").alias("last_click_event"),
    ).orderBy("event_id")


def q_asof_next_view(spark, sf_dir):
    """Forward as-of with tolerance: each purchase picks up the user's
    NEXT view at-or-after it, nulled beyond 30 min (operators/asof.py
    direction='forward', tolerance — pandas merge_asof parity)."""
    from streamkit_spark.operators.asof import asof_join

    ev = _ev(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", F.expr("ts div 1000000").alias("ts_ms"), "event_type"
    )
    purchases = base.filter(F.col("event_type") == "purchase").drop("event_type")
    views = base.filter(F.col("event_type") == "view").drop("event_type")
    out = asof_join(
        purchases, views, on="user_id", left_ts="ts_ms", right_ts="ts_ms",
        right_cols=["event_id"], direction="forward", tolerance=1_800_000,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("ts_ms_asof").alias("next_view_ts"),
        F.col("event_id_asof").alias("next_view_event"),
    ).orderBy("event_id")


def q_range_join_nearby(spark, sf_dir):
    """Band join: clicks within ±10 min of each error by the same user
    (operators/asof.py range_join — bucketized equi-join)."""
    from streamkit_spark.operators.asof import range_join

    ev = _ev(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", F.expr("ts div 1000000").alias("ts_ms"), "event_type"
    )
    errors = base.filter(F.col("event_type") == "error").drop("event_type")
    clicks = base.filter(F.col("event_type") == "click").drop("event_type")
    pairs = range_join(errors, clicks, on="user_id", left_ts="ts_ms",
                       right_ts="ts_ms", band_ms=600000)
    return (
        pairs.groupBy("event_id")
        .agg(F.count("*").alias("n_nearby"))
        .orderBy("event_id")
    )


def q_session_stats(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions per user (operators/windows.py)."""
    from streamkit_spark.operators.windows import session_stats

    ev = _ev(spark, sf_dir)
    return session_stats(
        ev, "user_id", F.expr("ts div 1000000"), gap_ms=1800000
    )


def q_tumbling_daily(spark, sf_dir):
    """Daily tumbling windows per event type (operators/windows.py)."""
    from streamkit_spark.operators.windows import tumbling_agg

    ev = _ev(spark, sf_dir)
    out = tumbling_agg(
        ev,
        F.expr("ts div 1000000"),
        86400000,
        ["event_type"],
        [
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("sum_value"),
        ],
    )
    return out.orderBy("window_id", "event_type")


def q_set_click_no_purchase(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    # (user, day) granularity: every user both clicks and purchases at
    # some point in the fixture, so the user-level EXCEPT was vacuously
    # empty (0 rows both engines — r1 advice).  Days where a user clicked
    # but bought nothing are plentiful and exercise the set op for real.
    day = (F.expr("ts div 1000000") / F.lit(86400000)).cast("long").alias("day_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", day)
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    # subtract = EXCEPT DISTINCT (set semantics; exceptAll would keep
    # surplus multiplicities)
    return clicks.subtract(purch).orderBy("user_id", "day_id")


def q_set_click_and_purchase(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(purch).orderBy("user_id")


def q_rollup_event_counts(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"), "n")
        .orderBy("event_type")
    )


def q_pivot_user_events(spark, sf_dir):
    ev = _ev(spark, sf_dir).filter(F.col("user_id") < 30)
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Scalar-function surface (SURVEY §2.8 extensions)
# --------------------------------------------------------------------------

def q_string_funcs(spark, sf_dir):
    cust = tables.load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.concat_ws("#", "c_name", "c_mktsegment").alias("tagged"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded"),
        F.regexp_replace("c_name", "[0-9]+", "N").alias("denumbered"),
    ).orderBy("c_custkey")


def q_date_funcs(spark, sf_dir):
    orders = tables.load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("day"),
        F.quarter(d).cast("long").alias("q"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus30"),
    ).orderBy("o_orderkey")


def q_math_funcs(spark, sf_dir):
    orders = tables.load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    x = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        F.round(F.sqrt(x), 4).alias("sqrt_p"),
        F.round(F.log(x), 4).alias("ln_p"),
        F.round(F.log10(x), 4).alias("log10_p"),
        F.round(x % 1000, 4).alias("mod_1000"),
        F.floor(x / 1000).cast("long").alias("k_bucket"),
        F.round(F.abs(x - 100000), 4).alias("abs_dev"),
    ).orderBy("o_orderkey")


def q_median_quantity(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_lang_id_confusion(spark, sf_dir):
    """Heuristic language-ID vs labeled lang (functions/text.py lang_id)."""
    docs = tables.load(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


def q_doc_quality(spark, sf_dir):
    """Composite quality score + BPE-ish token estimate (functions/text.py)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.round(TX.quality_score("text"), 4).alias("quality"),
        TX.bpe_token_estimate("text").cast("long").alias("bpe_tokens"),
    ).orderBy("doc_id")


def q_char_ngram_count(spark, sf_dir):
    """Distinct char-5-gram count per doc (functions/text.py char_ngrams)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.size(TX.char_ngrams("text", 5)).cast("long").alias("n_cgrams"),
    ).orderBy("doc_id")


def q_corr_stats(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
        )
        .orderBy("l_returnflag")
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join: customers with no orders in 1997.  (The unrestricted
    variant is vacuous on the fixture — every customer has some order —
    so the window makes the check exercise non-trivial output.)"""
    cust = tables.load(spark, sf_dir, "customer")
    orders_1997 = tables.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return (
        cust.join(orders_1997, cust.c_custkey == orders_1997.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_orders_above_avg(spark, sf_dir):
    """Decorrelated scalar subquery with exact-rational comparison:
    price > avg ⇔ price·n > total in DECIMAL (no FP boundary)."""
    orders = tables.load(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    totals = orders.agg(
        F.sum(dec).alias("__total"), F.count("*").alias("__n")
    )
    return (
        orders.crossJoin(F.broadcast(totals))
        .filter(dec * F.col("__n") > F.col("__total"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def q_ann_topk_ivf(spark, sf_dir):
    """IVF-flat ANN with deterministic sample centroids — oracle-mirrored
    in SQL (assignment argmax, nprobe=3 probes, exact cosine rank)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=3, round_digits=4)


def q_approx_distinct(spark, sf_dir):
    """HLL approx distinct, oracle-checked via a tolerance predicate: the
    HLL sketch itself is engine-specific (DuckDB's estimate would never
    hash-match Spark's), so the QUERY computes the accuracy contract —
    |approx − exact| / exact < 5% — as a boolean, plus the exact count
    which IS engine-portable.  The oracle asserts the same exact counts
    and that the boolean is true for every group."""
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("long").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("__approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users"))
                / F.col("exact_users")
                < 0.05
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid via posexplode + positional regroup —
    the scalable elementwise-mean pattern (no UDF, no collect).  The
    centroid array is serialized to a fixed-format CSV string ('%.4f' per
    element) because the driver's canonicalizer can't sort raw array
    columns (r1: pandas TypeError unhashable 'list')."""
    emb = tables.load(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    per_pos = exploded.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 4).alias("m")
    )
    return (
        per_pos.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).getField("m").alias("__c"))
        .select(
            "label",
            # + 0.0 collapses IEEE -0.0 to +0.0 (a near-zero mean rounds to
            # a differently-signed zero per engine — '%.4f' would print it)
            F.concat_ws(
                ",", F.transform("__c", lambda x: F.format_string("%.4f", x + F.lit(0.0)))
            ).alias("centroid"),
        )
        .orderBy("label")
    )


def q_top_tokens_per_lang(spark, sf_dir):
    """Top-5 most frequent tokens per language (explode → count → rank)."""
    docs = tables.load(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(TX.tokens("text")).alias("tok"))
    counts = tok.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "tok", "n", "rank")
        .orderBy("lang", "rank")
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per doc (functions/text.py tf_idf_top_terms)."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return TX.tf_idf_top_terms(docs, top_k=3)


def q_curation_report(spark, sf_dir):
    """End-to-end curation pipeline (exact-candidate variant so the oracle
    can mirror it; the LSH variant is equality-tested in pytest)."""
    from streamkit_spark.pipeline import CurationConfig, curation_report

    docs = tables.load(spark, sf_dir, "documents")
    return curation_report(docs, CurationConfig(use_lsh=False))


def q_doc_chunks(spark, sf_dir):
    """Token-window chunking with overlap (functions/text.chunk_documents):
    chunk fingerprints + sizes for doc_id < 50."""
    docs = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    chunks = TX.chunk_documents(docs, chunk_tokens=40, overlap=10)
    return chunks.select(
        "doc_id", "chunk_idx", "n_tokens", F.md5("chunk_text").alias("chunk_md5")
    ).orderBy("doc_id", "chunk_idx")


def q_tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 (volume shipping): revenue between two nations by year and
    direction.  Both nation dims broadcast; the fact-fact joins shuffle on
    their keys."""
    li = tables.load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double"),
                4,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_1's share of ASIA ECONOMY
    revenue by order year.  Share numerator/denominator stay DECIMAL until
    the final divide (cross-engine float determinism)."""
    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = tables.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    cust = tables.load(spark, sf_dir, "customer")
    supp = tables.load(spark, sf_dir, "supplier")
    nation = tables.load(spark, sf_dir, "nation")
    region = tables.load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    # part is NOT hint-broadcast: an ECONOMY filter still keeps ~1/6 of a
    # 100 TB part table; AQE broadcasts it at small SF on its own
    base = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            F.col("supp_nation"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution, sans the comment
    filter — the fixture has no o_comment): customers per order count,
    zero-order customers included via the left join."""
    cust = tables.load(spark, sf_dir, "customer")
    orders = tables.load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): suppliers achieving the maximum quarterly
    revenue.  The max comparison happens in exact DECIMAL (a double round
    boundary could split engines); rounding only at output."""
    li = tables.load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    supp = tables.load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("__rev")
    )
    maxrev = rev.agg(F.max("__rev").alias("__maxrev"))
    return (
        rev.join(F.broadcast(maxrev), F.col("__rev") == F.col("__maxrev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("__rev").cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue, sans p_container): average
    yearly revenue loss if Brand#3 orders below 20% of the part's average
    quantity were dropped.  The 20%-of-avg comparison is exact DECIMAL:
    qty < avg/5  ⇔  5·qty·n < sum (no FP boundary)."""
    part = tables.load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = tables.load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty_sum"),
        F.count("*").alias("__qty_n"),
    )
    # per_part is one row per distinct part — shuffle-join it (a broadcast
    # hint would ship the whole part inventory to every executor at scale);
    # the Brand#3 dim filter side stays broadcast
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, F.col("l_partkey") == F.col("pp_key"))
        .filter(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("__qty_n")
            < F.col("__qty_sum")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


def q_unigram_logprob(spark, sf_dir):
    """Mean unigram log-probability per doc under the corpus's own
    add-one-smoothed unigram LM (curation.unigram_logprob) — the
    degenerate perplexity quality filter."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.unigram_logprob(docs)


def q_pii_report(spark, sf_dir):
    """PII detection + redaction fingerprint (curation.pii_report).  The
    fixture is PII-clean, so plant deterministic emails/urls (every 25th
    doc) and ip/phone (every 50th) — non-vacuous output, exercised
    patterns."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 25 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com see https://ex.org/d"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 50 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".7 tel +1-555-123-4567"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return C.pii_report(planted)


def q_quality_rules(spark, sf_dir):
    """Gopher/C4-style quality-rule report (functions/curation.quality_rules):
    per-doc length / word-shape / repetition metrics + pass verdict."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.quality_rules(docs)


def q_contamination(spark, sf_dir):
    """Benchmark-contamination screen (curation.contamination_report):
    4-gram overlap between the corpus and a pseudo-benchmark slice
    (doc_id % 97 == 0) — the GPT-3-style train/test leak check."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return C.contamination_report(docs, bench, n=4)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup pairs (similarity.semantic_dedup_pairs, Abbas et al.
    2023): high-cosine pairs inside the same deterministic IVF coarse
    cluster — cluster-scoped semantic dedup, never all-pairs.  τ=0.35
    because the fixture embeddings are well-spread (corpus max pairwise
    cos ≈ 0.51): the threshold is relative to the corpus geometry, and
    0.35 yields a non-trivial, non-vacuous pair set to verify."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup_pairs(
        emb, n_clusters=8, threshold=0.35, round_digits=4
    )


def q_decontaminated(spark, sf_dir):
    """The decontaminated corpus (curation.decontaminate): drop every doc
    sharing a 4-gram with the pseudo-benchmark slice (doc_id % 97) — the
    removal stage the contamination report feeds (GPT-3 §C semantics)."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return (
        C.decontaminate(docs, bench, n=4, max_shared=0)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-bucket stratified sample (curation.stratified_sample):
    per-language rates, md5-bucket decision — reproducible, no rand()."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return (
        C.stratified_sample(
            docs, {"en": 0.5, "de": 0.25, "zh": 0.1}, default_rate=0.05
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def q_mixing_plan(spark, sf_dir):
    """Token-budget mixing plan (curation.mixing_plan): per-source token
    inventory → target tokens at the requested mix weights → sampling rate."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.mixing_plan(docs, {"src0": 3.0, "src1": 1.0, "src2": 1.0}, 3000)


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chop sequence packing (curation.pack_sequences) built on a
    two-level distributed prefix sum — no global single-partition window."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.pack_sequences(docs, budget=512, bucket_width=64)


def q_array_funcs(spark, sf_dir):
    """§2.8 array surface over a real array column: size / fold-sum /
    element_at / min / max / sort / distinct, all JVM expressions (scalar
    outputs only — the driver canonicalizer can't sort array cells)."""
    emb = tables.load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    vd = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(
            F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vec_sum"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("first_coord"),
        F.round(F.array_min(vd), 4).alias("min_coord"),
        F.round(F.array_max(vd), 4).alias("max_coord"),
        F.round(F.element_at(F.reverse(F.array_sort(vd)), 2), 4).alias("second_largest"),
        F.size(F.array_distinct("embedding")).cast("long").alias("n_distinct"),
    ).orderBy("vec_id")


def q_vocab_spectrum(spark, sf_dir):
    """Corpus token-frequency spectrum (Zipf/Heaps diagnostics): for each
    occurrence count, how many distinct vocabulary tokens occur that many
    times.  Two map-side-combined aggregates — shuffle ∝ vocabulary, then
    ∝ distinct frequencies; no windows, no joins."""
    docs = tables.load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    return (
        freq.groupBy("freq")
        .agg(F.count("*").alias("n_tokens"))
        .orderBy("freq")
    )


def q_binary_payload_stats(spark, sf_dir):
    """Opaque-binary-column analytics (multimodal data model: payload as
    bytes + typed metadata): byte length, content hash, per-type
    dedup-by-hash — all JVM expressions.  The fixture has no binary
    column, so the JSON props string is encoded to bytes in-query; the
    operators (octet length, md5-of-bytes, distinct-hash count) are the
    multimodal ones."""
    ev = _ev(spark, sf_dir)
    b = ev.select(
        "event_type",
        F.encode(F.col("props"), "UTF-8").alias("payload"),
    )
    return (
        b.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.min(F.octet_length("payload")).cast("long").alias("min_bytes"),
            F.max(F.octet_length("payload")).cast("long").alias("max_bytes"),
            F.countDistinct(F.md5("payload")).alias("distinct_payloads"),
        )
        .orderBy("event_type")
    )


def q_dedup_clusters(spark, sf_dir):
    """Connected-component duplicate clusters over the near-dup pair graph
    (hash-to-min label propagation, dedup.duplicate_clusters).  Output:
    every clustered doc with its canonical representative and cluster
    size.  Oracle: recursive-CTE transitive closure over the exact-Jaccard
    pair set (recall argument as dedup_minhash_lsh)."""
    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    cl = D.duplicate_clusters(pairs)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        cl.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition metrics (text.repetition_stats): duplicate
    word fraction + most-frequent 2/3-gram character coverage per doc."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.repetition_stats(docs).orderBy("doc_id")


def q_dedup_substring(spark, sf_dir):
    """Exact-substring dup pairs by winnowing fingerprints (dedup.
    substring_dup_pairs — Schleimer et al. SIGMOD'03 / the Lee et al.
    ACL'22 ExactSubstr goal): pairs sharing ≥2 distinct window-min
    fingerprints, i.e. long verbatim overlaps.  hash_fn="md5" (not the
    xxhash64 production default) because md5 is byte-identical in DuckDB,
    so the pair set is fully oracle-checked; the xxhash64 path is covered
    by the driver-checked dedup_substring_fast_recall guarantee query and
    test_winnowing_hash_paths_honor_guarantee."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.substring_dup_pairs(
        docs, k=16, w=8, min_shared=2, hash_fn="md5"
    ).orderBy("doc_a", "doc_b")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (curation.dsir_weights, Xie et al.
    NeurIPS'23): hashed-bigram bucket models, per-doc log importance of
    the corpus against the pseudo-benchmark target slice."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 97 == 0)
    return C.dsir_weights(docs, target, n=2, n_buckets=4096)


def q_dedup_substring_maxdf(spark, sf_dir):
    """Winnowing pairs WITH the document-frequency cut exercised
    (max_df=16 drops boilerplate fingerprints — the hot-key control that
    makes the pair join safe at corpus scale).  min_shared=1 so the cut
    visibly changes the result vs dedup_substring."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.substring_dup_pairs(
        docs, k=16, w=8, min_shared=1, max_df=16, hash_fn="md5"
    ).orderBy("doc_a", "doc_b")


def q_dedup_substring_fast_recall(spark, sf_dir):
    """Driver-checkable correctness contract for the xxhash64 winnowing
    fast path (the production default; DuckDB cannot run xxhash64, so a
    fingerprint-level oracle is impossible).  Winnowing's detection
    guarantee (Schleimer et al. SIGMOD'03) is hash-agnostic: any doc pair
    sharing an exact substring of ≥ k+w-1 = 23 chars selects ≥1 common
    fingerprint.  Ground truth — distinct pairs sharing any 23-gram — is
    computed independently on BOTH engines (cross-checking n_true), and
    the fast path must miss none of them: missed = 0.  Which BORDERLINE
    pairs appear beyond the guaranteed set legitimately differs between
    hash functions (window-min selection is hash-dependent), so pair-set
    equality is deliberately NOT the contract.  Ground truth is
    group-and-enumerate (no derived-table self-join); it is inherently
    Θ(pairs-sharing-a-gram) — a verification query, not a production
    operator."""
    L = 23  # k + w - 1
    docs = tables.load(spark, sf_dir, "documents").where(
        F.length(F.lower(F.col("text"))) >= L
    )
    grams = F.expr(
        f"array_distinct(transform(sequence(1, length(lower(text)) - {L - 1}),"
        f" i -> substr(lower(text), i, {L})))"
    )
    g = docs.select(F.col("doc_id"), F.explode(grams).alias("gram"))
    ids = (
        g.groupBy("gram")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # in-row pair enumeration: two-param HOF lambda is (element, index)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    true_pairs = (
        ids.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    fast = D.substring_dup_pairs(
        tables.load(spark, sf_dir, "documents"),
        k=16, w=8, min_shared=1, hash_fn="xxhash64",
    ).select("doc_a", "doc_b", F.lit(1).alias("hit"))
    j = true_pairs.join(fast, ["doc_a", "doc_b"], "left")
    # coalesce: with zero true pairs sum() is NULL but the oracle says 0
    return j.agg(
        F.count("*").cast("long").alias("n_true"),
        F.coalesce(
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("missed"),
    )


def q_temperature_sample(spark, sf_dir):
    """Temperature-rebalanced corpus sample (curation.temperature_sample,
    alpha=0.5): low-resource languages keep (nearly) everything, the
    dominant one is downsampled toward the budget — deterministic
    md5-bucket decisions, reproducible across runs."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return (
        C.temperature_sample(docs, alpha=0.5, budget_docs=400)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# round-3 queries
# --------------------------------------------------------------------------

def q_dedup_overlap(spark, sf_dir):
    """Overlap-coefficient (containment) near-dup pairs
    (dedup.overlap_coefficient_pairs): |A∩B|/min(|A|,|B|) ≥ 0.8 over
    3-gram shingles — catches short docs embedded in long ones that
    Jaccard misses.  Candidates via the df≤64 rare-shingle cut
    (containment admits no exact prefix filter); the oracle mirrors the
    cut exactly."""
    docs = tables.load(spark, sf_dir, "documents")
    out = D.overlap_coefficient_pairs(docs, n=3, threshold=0.8, max_df=64)
    return out.select("id_a", "id_b", F.round("overlap", 4).alias("overlap"))


def q_ngram_novelty(spark, sf_dir):
    """Per-doc 3-gram novelty (curation.ngram_novelty): fraction of the
    doc's distinct 3-grams first seen (by ascending doc_id) in this doc —
    the echo-document score."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.ngram_novelty(docs, n=3)


def q_dsir_topk(spark, sf_dir):
    """DSIR selection step: top-50 documents by importance weight
    (deterministic (log_w DESC, doc_id) order — the greedy variant of the
    paper's importance resampling)."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 97 == 0)
    return (
        C.dsir_weights(docs, target, n=2, n_buckets=4096)
        .orderBy(F.desc("log_w"), "doc_id")
        .limit(50)
    )


def q_embedding_quantization(spark, sf_dir):
    """Per-vector int8 symmetric quantization round-trip error
    (similarity.quantization_error) — the storage-shrink contract an
    embedding store verifies before switching ANN to int8."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return SIM.quantization_error(emb, bits=8)


def q_rolling_activity(spark, sf_dir):
    """Per-user daily event counts with a trailing 7-day rolling total
    (operators.windows.rolling_daily_counts) over integer epoch-days."""
    from streamkit_spark.operators.windows import rolling_daily_counts

    ev = _ev(spark, sf_dir)
    return rolling_daily_counts(
        ev, "user_id", F.expr("ts div 1000000"), window_days=7
    )


def q_event_funnel(spark, sf_dir):
    """Strictly-ordered view→click→purchase funnel
    (operators.windows.funnel_counts): users whose first click follows
    their first view, and first purchase follows that click."""
    from streamkit_spark.operators.windows import funnel_counts

    ev = _ev(spark, sf_dir)
    return funnel_counts(
        ev, ["view", "click", "purchase"], key="user_id",
        ts_ms=F.expr("ts div 1000000"),
    )


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail quality buckets
    (curation.perplexity_buckets) by unigram-LM score quartiles; decimal
    mean per bucket."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.perplexity_buckets(docs, lo=0.25, hi=0.75)


def q_kmeans_assign(spark, sf_dir):
    """Distributed Lloyd k-means (similarity.kmeans_centroids, 2
    iterations, deterministic id-order init + fold-order means) followed
    by a map-only assignment pass (similarity.kmeans_assign).  Only the
    k × dim centroid table ever reaches the driver — this is the training
    loop behind the IVF coarse quantizer at corpus scale."""
    emb = tables.load(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_centroids(emb, k=8, iters=2, exact_means=True)
    return SIM.kmeans_assign(emb, cents)


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter semi-join pre-filter (functions.sketch): bit-set over
    BUILDING-segment custkeys, broadcast, orders pre-filtered map-side by
    3 chained broadcast semi-joins — Spark's runtime-filter pattern made
    explicit.  md5 hash path so the oracle reconstructs the exact bit-set:
    the false-positive COUNT hash-matches, not just a tolerance."""
    from streamkit_spark.functions import sketch as SK

    cust = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = tables.load(spark, sf_dir, "orders")
    return SK.bloom_report(
        orders, "o_custkey", cust, "c_custkey", m=65536, h=3, hash_fn="md5"
    )


def q_quantile_report(spark, sf_dir):
    """Exact interpolated percentiles of event value per type
    (analytics.quantile_report) + the approx_percentile accuracy
    contract: order statistics are engine-deterministic where double
    sums are not; the sketch only exposes its within-1% boolean."""
    from streamkit_spark.functions import analytics as AN

    return AN.quantile_report(_ev(spark, sf_dir), "value", "event_type")


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (analytics.event_transitions): lag window partitioned by
    user (no global sort), exact transition counts + row-normalized
    probabilities."""
    from streamkit_spark.functions import analytics as AN

    return AN.event_transitions(
        _ev(spark, sf_dir), "user_id", "event_type", ("ts", "event_id")
    )


def q_retention_cohorts(spark, sf_dir):
    """First-activity-day cohorts × 7-day offset buckets
    (analytics.retention_cohorts): two user-keyed aggregates, integer
    day math, no window."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000000").alias("ts_ms")
    )
    return AN.retention_cohorts(ev, "user_id", "ts_ms", bucket_days=7)


def q_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type
    (analytics.value_histogram): integer bucket ids, one map-side
    combined aggregate, output bounded by the value range."""
    from streamkit_spark.functions import analytics as AN

    return AN.value_histogram(_ev(spark, sf_dir), "value", "event_type", 50.0)


def q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier report per event type (analytics.iqr_outliers):
    fences from exact percentiles (order statistics — deterministic),
    broadcast back over the stream for a map-only filtered count."""
    from streamkit_spark.functions import analytics as AN

    return AN.iqr_outliers(_ev(spark, sf_dir), "value", "event_type", k=1.5)


def q_zorder_stats(spark, sf_dir):
    """Morton-order layout report (functions.layout.zorder_stats): events
    keyed by the interleaved (user_id, epoch-day) bits, bucketed by the
    high key bits (a file/row-group proxy), min/max span per dimension —
    the pruning intervals a Z-ordered table hands its reader.  One fold
    expression + one aggregate; no UDF."""
    from streamkit_spark.functions.layout import zorder_stats

    ev = _ev(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000000 div 86400000").alias("day")
    )
    # shift 8 → bucket fixes all key bits above the low 4 of each
    # dimension, so every bucket spans ≤ 16 users AND ≤ 16 days
    return zorder_stats(ev, ["user_id", "day"], bits=16, bucket_shift=8)


def q_capped_per_source(spark, sf_dir):
    """Deterministic per-source cap (curation.cap_per_group): at most 20
    docs per source, chosen by ascending md5 hash — the domain-balance
    cap of a training mix, with the nesting property (larger k ⊇
    smaller k)."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return (
        C.cap_per_group(docs, "source", k=20, salt="cap")
        .select("doc_id", "source", F.col("cap_rank").cast("long").alias("cap_rank"))
        .orderBy("source", "cap_rank")
    )


def q_pmi_top_pairs(spark, sf_dir):
    """Top document-co-occurrence PMI token pairs (text.pmi_pairs):
    in-row pair enumeration over distinct-sorted tokens — no token
    self-join — then exact doc-frequency counts."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.pmi_pairs(docs, min_pair_count=5, top_n=50)


def q_llr_top_pairs(spark, sf_dir):
    """Top collocations by Dunning's log-likelihood ratio
    (text.llr_pairs, Dunning CL'93): the 2×2 doc-co-occurrence table
    per pair from the same exact doc-frequency counts PMI uses; the
    statistic is one fixed four-term double expression (zero cells
    contribute exactly 0), no cross-pair float reduction, and the
    (llr DESC, a, b) total order makes the top-50 cutoff stable."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.llr_pairs(docs, min_pair_count=5, top_n=50)


def q_bigram_logprob(spark, sf_dir):
    """Mean bigram log-probability per doc under the corpus's own
    add-one-smoothed bigram LM (curation.bigram_logprob) — the order-2
    step past unigram_logprob."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.bigram_logprob(docs)


def q_embedding_covariance(spark, sf_dir):
    """Top off-diagonal covariance entries of the embedding columns
    (similarity.covariance_pairs, exact_sums fold path): the distributed
    second-moment pass PCA / whitening starts from — corpus scanned
    once, only O(d²) aggregate rows shuffle, d×d result is
    driver-sized."""
    emb = tables.load(spark, sf_dir, "embeddings")
    cov = SIM.covariance_pairs(emb, exact_sums=True)
    r = F.round(F.col("cov"), 6)
    return (
        cov.filter(F.col("dim_i") < F.col("dim_j"))
        .select("dim_i", "dim_j", r.alias("cov"))
        .orderBy(F.abs(r).desc(), "dim_i", "dim_j")
        .limit(20)
    )


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (curation.weighted_sample, Efraimidis–Spirakis keys in the log
    domain): 50 docs drawn ∝ length — the resampling step DSIR defers."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return (
        C.weighted_sample(docs, "n_chars", k=50)
        .select("doc_id", "n_chars", F.round("skey", 6).alias("skey"))
        .orderBy("doc_id")
    )


def q_column_stats(spark, sf_dir):
    """ANALYZE-style numeric column statistics (analytics.column_stats):
    exact ndv, nulls, range, quartiles for user_id and value — one scan,
    one aggregate, in-row stack unpivot."""
    from streamkit_spark.functions import analytics as AN

    return AN.column_stats(_ev(spark, sf_dir), ("user_id", "value"))


def q_bpe_fertility(spark, sf_dir):
    """BPE vocabulary induction (functions.bpe, Sennrich ACL'16) + per-doc
    fertility: learn 8 merges from the word-count vocabulary (the corpus
    is scanned once; every iteration aggregates the vocab table), then
    count words vs subwords per doc.  Iterative/driver-coordinated —
    rows-only by design (no SQL twin); exact parity with a from-scratch
    python reference is pytest-enforced (tests/test_bpe.py)."""
    from streamkit_spark.functions.bpe import apply_merges, learn_bpe_merges

    docs = tables.load(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=8)
    return apply_merges(docs, merges)


def q_key_skew(spark, sf_dir):
    """Join-key skew audit (analytics.key_skew_report): the top order
    custkeys with row share and frequency-over-mean ratio — the number
    that decides plain shuffle vs AQE skew split vs salting."""
    from streamkit_spark.functions import analytics as AN

    orders = tables.load(spark, sf_dir, "orders")
    return AN.key_skew_report(orders, "o_custkey", top_n=10)


def q_source_balance(spark, sf_dir):
    """Corpus concentration audit (analytics.group_balance): top-1/top-5
    share and the Gini coefficient of per-source doc counts — the
    is-one-domain-dominating check a training mix runs before
    cap_per_group / temperature_sample."""
    from streamkit_spark.functions import analytics as AN

    docs = tables.load(spark, sf_dir, "documents")
    return AN.group_balance(docs, "source")


def q_weekly_growth(spark, sf_dir):
    """Week-over-week event-volume trend per type
    (analytics.period_growth): integer period bucketing, lag window
    over the groups × weeks aggregate — never the raw stream."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "event_type", F.expr("ts div 1000000").alias("ts_ms")
    )
    return AN.period_growth(ev, "event_type", "ts_ms", period_days=7)


# --------------------------------------------------------------------------
# round-5 queries
# --------------------------------------------------------------------------

def q_gap_filled_daily(spark, sf_dir):
    """Daily event counts per type with missing days materialized as
    zero rows (analytics.gap_filled_daily): one map-side-combined
    (type, day) count; the day spine is a broadcast of
    days x types — dashboard-sized at any corpus scale."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "event_type", F.expr("ts div 1000000").alias("ts_ms")
    )
    return AN.gap_filled_daily(ev, "event_type", "ts_ms", fill="zero")


def q_gap_filled_ffill(spark, sf_dir):
    """Gap-filled daily counts with forward-fill carry
    (analytics.gap_filled_daily, fill='ffill'): gap days repeat the
    last observed count; days before the first observation stay 0."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "event_type", F.expr("ts div 1000000").alias("ts_ms")
    )
    return AN.gap_filled_daily(ev, "event_type", "ts_ms", fill="ffill")


def q_transition_matrix(spark, sf_dir):
    """Raw first-order transition counts over per-user event sequences
    (analytics.transition_matrix): the exact-count twin of
    event_transitions — lag window partitioned by user, NULL-typed
    events dropped before the lag."""
    from streamkit_spark.functions import analytics as AN

    return AN.transition_matrix(
        _ev(spark, sf_dir), "user_id", "event_type", ("ts", "event_id")
    ).orderBy("prev_type", "next_type")


def q_event_pagerank(spark, sf_dir):
    """Damped PageRank over the event-type transition graph
    (analytics.event_pagerank): corpus-sized work is ONE distributed
    transition count; the 10-step power iteration runs on the k x k
    vocabulary matrix with a bit-reproducible ascending-state fold, so
    the DuckDB oracle replays the trajectory exactly (recursive CTE
    over list folds)."""
    from streamkit_spark.functions import analytics as AN

    return AN.event_pagerank(
        _ev(spark, sf_dir), "user_id", "event_type", ("ts", "event_id"),
        iters=10, damping=0.85,
    )


def q_tfidf_cosine(spark, sf_dir):
    """TF-IDF cosine near-dup pairs over an inverted shingle index
    (dedup.tfidf_cosine_pairs, ngram=3, df-cut 64): idf-weighted binary
    shingle cosine — unit-normalized weights so the per-term
    group-and-enumerate pair dot IS the cosine, with both the norm and
    the dot as ascending-term folds DuckDB replays exactly."""
    from streamkit_spark.functions import dedup as D

    docs = tables.load(spark, sf_dir, "documents")
    return D.tfidf_cosine_pairs(docs, threshold=0.3, max_df=64, ngram=3)


def q_doc_length_deciles(spark, sf_dir):
    """Per-decile document-length report (analytics.rank_buckets):
    exact rank-decile assignment via integer math on the distinct-score
    table — no global sort, no interpolated thresholds — then a
    per-bucket aggregate."""
    from streamkit_spark.functions import analytics as AN

    docs = tables.load(spark, sf_dir, "documents")
    return (
        AN.rank_buckets(docs, "n_chars", 10)
        # NULL scores keep a NULL bucket (left join); the oracle drops
        # NULL n_chars rows, so drop the NULL-bucket group to match
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("bucket")
    )


def q_user_accumulation(spark, sf_dir):
    """Cumulative unique users per day (analytics.user_accumulation):
    the scalable rewrite of a running COUNT(DISTINCT) — per-user
    first-day aggregate, then a cumulative sum over the calendar-sized
    day table."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000000").alias("ts_ms")
    )
    return AN.user_accumulation(ev, "user_id", "ts_ms")


def q_salted_brand_revenue(spark, sf_dir):
    """Per-brand revenue through a SALTED join (operators/skew
    .salted_join, n_salt=8): lineitem scattered across 8 sub-keys per
    part key, part replicated 8x — the hot-key-proof plan shape,
    producing rows identical to the plain equi-join (which is exactly
    what the oracle runs)."""
    from streamkit_spark.operators.skew import salted_join

    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    part = tables.load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey",
        n_salt=8,
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                4,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy("p_brand")
    )


def q_ewma_daily(spark, sf_dir):
    """EWMA-smoothed gap-filled daily counts per event type
    (analytics.ewma_smooth over analytics.gap_filled_daily, α=0.3):
    zero-filled gap days pull the average down; the smoothing is a
    left fold over each group's day-sorted array — no pow(), so DuckDB
    list_reduce replays it bit-for-bit."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "event_type", F.expr("ts div 1000000").alias("ts_ms")
    )
    daily = AN.gap_filled_daily(ev, "event_type", "ts_ms", fill="zero")
    return AN.ewma_smooth(
        daily.select("event_type", "day", "n"),
        "event_type", "day", "n", alpha=0.3,
    )


_PQ_BOOKS_CACHE: dict[str, list] = {}


def _pq_books(spark, sf_dir):
    """Shared PQ codebooks for the two PQ queries: m=4 subspaces, k=8
    codewords, 2 Lloyd iterations, exact-means fold (oracle parity).
    Memoized per sf_dir — both PQ queries train identical codebooks, and
    retraining runs ~a dozen eager Spark jobs."""
    emb = tables.load(spark, sf_dir, "embeddings")
    if sf_dir not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[sf_dir] = SIM.pq_codebooks(
            emb, m=4, k=8, iters=2, exact_means=True
        )
    return emb, _PQ_BOOKS_CACHE[sf_dir]


def q_pq_codes(spark, sf_dir):
    """Product-quantization encoding (similarity.pq_codebooks +
    pq_encode, Jégou et al. TPAMI'11): 4 subspace codebooks from the
    shared spherical k-means trainer, each vector stored as 4 codes —
    one map-only assignment pass against broadcast codeword literals.
    The oracle replays all 4 subspace k-means chains and the encode
    argmax with the kmeans CTE machinery."""
    emb, books = _pq_books(spark, sf_dir)
    return (
        SIM.pq_encode(emb, books)
        .select(
            "vec_id",
            F.expr(
                "array_join(transform(codes, c -> cast(c as string)), '-')"
            ).alias("code"),
        )
        .orderBy("vec_id")
    )


def q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k (similarity.pq_topk): queries score
    the COMPRESSED corpus — m short folds against codeword literals
    selected per code — never the raw vectors; score rounded before
    ranking so the ordering reproduces across engines."""
    emb, books = _pq_books(spark, sf_dir)
    codes = SIM.pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.pq_topk(codes, queries, books, k=5)


def q_ivf_pq_topk(spark, sf_dir):
    """Fused IVF-prune + PQ-rescore ANN (similarity.ivf_pq_topk,
    n_centroids=8, nprobe=3): coarse inverted lists bound the candidate
    set, ADC scores the compressed codes — raw corpus vectors are read
    in ONE map-only pass and never reach the join.  The oracle replays
    coarse assignment, probes, the 4 subspace k-means chains, the
    encode argmax, and the ADC folds."""
    emb, books = _pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.ivf_pq_topk(
        emb, queries, books, k=5, n_centroids=8, nprobe=3
    )


def q_split_assignment(spark, sf_dir):
    """Deterministic train/val/test assignment (curation.assign_split):
    id-keyed md5 buckets against cumulative weight thresholds — a doc
    keeps its split across dataset versions (eval decontamination by
    construction)."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.assign_split(docs).select("doc_id", "split").orderBy("doc_id")


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe split (curation.cluster_safe_split): near-dup
    CLUSTERS move between train/val/test atomically — the md5 split
    bucket hashes the connected component's representative instead of
    the doc id (Lee et al. 2022 §5: id-hashed splits put near-dup
    pairs across the eval boundary).  Oracle: the dedup_clusters
    recursive-CTE closure over the exact-Jaccard pair set, then the
    identical bucket CASE on coalesce(cluster_id, doc_id)."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    return (
        C.cluster_safe_split(docs, pairs)
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    )


def q_split_leakage(spark, sf_dir):
    """Eval-contamination audit (curation.split_leakage_report): how
    many near-dup pairs straddle two splits under plain id hashing vs
    the cluster-keyed split?  leaked_cluster_hash is 0 BY CONSTRUCTION
    (pair endpoints share a component, hence a key) — the row makes
    the id-hash baseline's leak count visible and trips if the keying
    ever breaks."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    return C.split_leakage_report(docs, pairs)


def q_quality_classifier(spark, sf_dir):
    """Hashed-feature linear quality classifier
    (curation.quality_classifier_score): fastText-style scoring over 3-
    nibble-md5 unigram buckets with the deterministic stand-in model
    w(b) = ((b·2654435761) mod 4096)/4096 − ½.  Every weight is a dyadic
    rational, so the in-row fold sum is EXACT in double — zero
    summation-order sensitivity; the oracle replays the identical
    bucket/weight/mean arithmetic."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.quality_classifier_score(docs, bias=0.1)


def q_boilerplate_blocks(spark, sf_dir):
    """Boilerplate segment report (curation.boilerplate_segments) over
    fixed-width 8-token blocks (the fixture has no newline layout; real
    corpora use the default line segmentation, unit-tested separately):
    segments appearing in ≥ 3 distinct docs — the CCNet line-dedup
    signal.  One segment-keyed shuffle; hot keys are the boilerplate
    itself with two-counter state."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.boilerplate_segments(docs, min_df=3, block_tokens=8)


def q_dedup_editdist(spark, sf_dir):
    """Edit-similarity near-dup pairs (dedup.editdist_pairs): rare-
    shingle blocked candidates (df ≤ 32), length prefilter in exact
    integer arithmetic, then Spark's bounded levenshtein on 512-char
    lowercased prefixes — 1 − lev/max(len) ≥ 0.9.  The oracle replays
    the same blocking, prefilter, and DP (DuckDB levenshtein) on the
    same prefixes."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.editdist_pairs(docs, threshold=0.9, max_df=32)


def q_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss random projection
    (similarity.random_projection, 64→16, seed 7): the (16×64) N(0,1)
    matrix is a literal folded per row — map-only, zero shuffle.  Output
    exploded to (vec_id, pos, val) for the hash compare; the oracle
    carries the SAME matrix literal and replays each dot fold
    left-to-right.  dim pinned to the fixture's 64 so engine and oracle
    agree on the plane literals."""
    emb = tables.load(spark, sf_dir, "embeddings")
    proj = SIM.random_projection(emb, out_dim=16, seed=7, dim=64)
    return (
        proj.select("vec_id", F.posexplode("proj"))
        .select("vec_id", F.col("pos"), F.round("col", 4).alias("val"))
        .orderBy("vec_id", "pos")
    )


def q_knn_graph(spark, sf_dir):
    """Exact kNN graph (similarity.knn_graph, brute, k=3): directed
    (src, dst, cos, rank) edges over the whole corpus — the verifier
    baseline for the IVF scale path (whose full-probe equivalence and
    partial-probe recall are pytest-checked).  Cosine rounded 4dp BEFORE
    ranking; ties break by dst."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return SIM.knn_graph(emb, k=3, method="brute")


def q_mutual_knn(spark, sf_dir):
    """Mutual-kNN symmetrization (similarity.mutual_knn_pairs over the
    k=3 brute graph): undirected pairs within each other's top-k —
    group-and-enumerate on the undirected key, no edge-table
    self-join."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return SIM.mutual_knn_pairs(SIM.knn_graph(emb, k=3, method="brute"))


def q_compaction_bins(spark, sf_dir):
    """Small-file compaction planning (layout.compaction_bins): per-source
    streaming-concat bin assignment — bin = (prefix_sum − size) div
    target, exact integer math — summarized to one row per planned output
    file.  Documents stand in as the file table (doc_id = file name,
    n_chars = bytes); Store.compaction_plan runs the same planner over
    real parquet sizes (tested)."""
    from streamkit_spark.functions.layout import compaction_bins

    docs = tables.load(spark, sf_dir, "documents")
    return compaction_bins(
        docs, 4096, file_col="doc_id", size_col="n_chars",
        group_cols=("source",),
    )


def q_ab_value_ztest(spark, sf_dir):
    """Per-event-type Welch z of value vs the complement
    (analytics.ab_test_report): the always-on experiment readout.  Sums
    and sums-of-squares ride DECIMAL(18,2)/(38,4) — exact on both
    engines whatever the partial-agg order (the money convention);
    mean/var/z are computed from those exact components with identical
    op order."""
    from streamkit_spark.functions.analytics import ab_test_report

    # NULL-group guard: a regenerated fixture with a NULL event_type would
    # sort NULLS FIRST on Spark / NULLS LAST on DuckDB (ADVICE r5).
    ev = (
        _ev(spark, sf_dir)
        .filter(F.col("event_type").isNotNull())
        .select("event_type", "value")
    )
    return ab_test_report(ev, "event_type", "value")


def q_label_propagation(spark, sf_dir):
    """Semi-supervised label propagation (similarity.label_propagation,
    Zhu & Ghahramani hard-clamped): 20% seeds (vec_id % 5 == 0) spread
    over the k=5 brute kNN graph for 3 rounds; votes are integer
    round(cos·10⁴) weights so per-(node,label) sums are exact and the
    argmax cannot flip on float noise.  The oracle replays all 3 rounds
    as chained CTEs over the identical integer votes."""
    emb = tables.load(spark, sf_dir, "embeddings")
    edges = SIM.knn_graph(emb, k=5, method="brute")
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    return SIM.label_propagation(
        edges, seeds, emb.select("vec_id"), n_iter=3
    )


def q_window_funcs(spark, sf_dir):
    """ANSI window-function parity block (the windowed companion of
    string_funcs/date_funcs/math_funcs): row_number / rank / dense_rank /
    ntile / percent_rank / cume_dist / lag / lead over event partitions.
    Rank-family orderings that must be unique (row_number, ntile) break
    ties on event_id; rank/dense_rank/percent_rank/cume_dist order by
    value alone — their tie semantics are the thing being checked."""
    ev = _ev(spark, sf_dir).filter(F.col("event_id") < 2000).select(
        "event_id", "user_id", "event_type", F.expr("ts div 1000000").alias("ts_ms"),
        "value",
    )
    # NULLS LAST pinned explicitly: Spark defaults NULLS FIRST for ASC,
    # DuckDB NULLS LAST — a regenerated fixture with one NULL value would
    # silently shift every rank in its partition
    w_uniq = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    w_ties = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last()
    )
    w_user = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    return ev.select(
        "event_id",
        F.row_number().over(w_uniq).cast("long").alias("rn"),
        F.rank().over(w_ties).cast("long").alias("rnk"),
        F.dense_rank().over(w_ties).cast("long").alias("drnk"),
        F.ntile(4).over(w_uniq).cast("long").alias("nt"),
        F.round(F.percent_rank().over(w_ties), 4).alias("prank"),
        F.round(F.cume_dist().over(w_ties), 4).alias("cdist"),
        F.lag("value").over(w_user).alias("prev_val"),
        F.lead("value").over(w_user).alias("next_val"),
    ).orderBy("event_id")


def q_frequent_sequences(spark, sf_dir):
    """Top-20 most frequent 3-step event-type sequences
    (analytics.frequent_sequences): per-user histories collected once
    into order-sorted arrays, n-grams expanded in-row, one map-side-
    combined count — the n-gram generalization of event_transitions.
    Total (count desc, sequence asc) ranking keeps the LIMIT
    reproducible."""
    from streamkit_spark.functions.analytics import frequent_sequences

    ev = _ev(spark, sf_dir)
    return frequent_sequences(ev, n=3, k=20)


def q_token_entropy(spark, sf_dir):
    """Per-source Shannon entropy of the unigram distribution
    (text.token_entropy): one (source, token) count, then an ascending-
    token fold so the float summation is deterministic and the oracle
    replays it term-for-term."""
    from streamkit_spark.functions.text import token_entropy

    docs = tables.load(spark, sf_dir, "documents")
    return token_entropy(docs)


def q_ivfadc_topk(spark, sf_dir):
    """IVFADC search with RESIDUAL product quantization (Jégou'11 §IV —
    the billion-scale FAISS recipe proper, vs ivf_pq_topk's raw-vector
    codes): coarse lists bound candidates, codebooks are trained on
    v − c(v) residuals, and scores decompose exactly as ⟨q, c_list⟩ +
    Σ⟨q_s, codeword_s⟩.  The oracle replays the coarse assignment, the
    residual table (zero-residual centroid rows excluded from training,
    encoded all-tie), all 4 residual k-means chains, the encode argmax,
    and the coarse+ADC score sum."""
    emb = tables.load(spark, sf_dir, "embeddings")
    # Key by (SparkContext id, sf_dir): the cached `assign` DataFrame is
    # localCheckpoint'ed and therefore bound to the context that built it —
    # a same-process session restart must rebuild, not reuse (ADVICE r5).
    cache_key = (id(spark.sparkContext), sf_dir)
    if cache_key not in _IVFADC_CACHE:
        _IVFADC_CACHE[cache_key] = SIM.ivfadc_components(
            emb, n_centroids=8, m=4, k=8, iters=2, exact_means=True
        )
    cents, books, assign = _IVFADC_CACHE[cache_key]
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.ivfadc_topk(
        emb, queries, cents, books, k=5, nprobe=3, assignments=assign
    )


_IVFADC_CACHE: dict = {}


def q_triangle_count(spark, sf_dir):
    """Exact triangle census + transitivity of the k=3 brute kNN graph
    (similarity.triangle_count): degree-oriented node-iterator — wedges
    enumerated in-row per sorted oriented adjacency, closed by ONE
    semi-join against the canonical edge set; each triangle counted once
    at its orientation-minimal vertex.  The oracle recomputes the same
    kNN edges and counts triangles with the classic 3-way join (the
    count is orientation-independent, so the shapes agree exactly)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    edges = SIM.knn_graph(emb, k=3, method="brute")
    return SIM.triangle_count(edges)


def q_knn_assortativity(spark, sf_dir):
    """Degree assortativity of the k=3 brute kNN graph
    (similarity.degree_assortativity, Newman 2002): are high-degree
    embedding hubs neighbors of other hubs, or of leaves?  kNN graphs
    are structurally DISassortative (every node has out-degree k, so
    high total degree means many inbound links from sparse regions) —
    the sign is a sanity probe of the embedding geometry.  All three
    edge-degree moments are exact DECIMAL(38,0)/HUGEINT sums over the
    checkpointed canonical edge set; r is ONE double division, NULL on
    a degree-regular graph (zero variance)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    edges = SIM.knn_graph(emb, k=3, method="brute")
    return SIM.degree_assortativity(edges)


def q_hll_daily_range(spark, sf_dir):
    """Date-range cardinality from the day-partitioned HLL register cube
    (sketch.hll_daily_registers + hll_merge_estimate): distinct users
    per event type over days [d0, d0+3] by MAX-MERGING the per-day
    registers — no rescan of the range, which per-day distinct counts
    cannot do (they don't add).  The range is anchored AT the min day so
    it is non-empty on any fixture (day d0 has rows by definition of
    min — a floating window could go vacuous on a short regenerated
    fixture).  Register maxima are associative, so the merged estimate
    equals a one-pass sketch of the range exactly; the oracle replays
    registers over the filtered range directly.  d0 is a 1-row bounded
    collect (the kmeans-centroid convention) so the est and exact
    branches filter on a literal instead of each re-planning the
    min-day scan."""
    from streamkit_spark.functions.sketch import (
        hll_daily_registers,
        hll_merge_estimate,
    )

    ev = _ev(spark, sf_dir)
    day = F.expr("(ts div 1000000) div 86400000")
    evd = ev.select("event_type", day.alias("day"), "user_id")
    d0 = evd.agg(F.min("day")).first()[0]
    regs = hll_daily_registers(
        ev, "user_id", F.expr("ts div 1000000"), ["event_type"]
    )
    in_range = lambda c: (c >= F.lit(d0)) & (c <= F.lit(d0) + 3)
    sel = regs.filter(in_range(F.col("day"))).select(
        "event_type", "bucket", "r"
    )
    est = hll_merge_estimate(sel, ["event_type"])
    exact = (
        evd.filter(in_range(F.col("day")) & F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("exact_distinct"))
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "hll_estimate",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


def q_funnel_timing(spark, sf_dir):
    """Click→purchase time-to-convert report (operators/windows.py
    funnel_timing): conversion rate + exact interpolated p50/p90 of the
    first-qualifying-purchase delay — the timing companion to
    event_funnel's step counts.  Percentile parity per the
    quantile_report/column_stats precedent (Spark percentile ≡ DuckDB
    quantile_cont, rounded 4dp)."""
    from streamkit_spark.operators.windows import funnel_timing

    ev = _ev(spark, sf_dir)
    return funnel_timing(
        ev, "click", "purchase", ts_ms=F.expr("ts div 1000000")
    )


def q_mixture_plan(spark, sf_dir):
    """Token-budget mixture plan (curation.mixture_plan): per-source
    available tokens vs the target mixture's ask — sampling rate,
    deficit, epochs — the pretraining-recipe bookkeeping (GPT-3 Table
    2.2 / Pile-style weights).  Weights cycle 1..5 over the 20 fixture
    sources; budget 30k tokens ≈ 1.2× the sf0.01 corpus, so both
    downsampled (rate < 1) and repeated (epochs > 1) sources appear."""
    from streamkit_spark.functions.curation import mixture_plan

    docs = tables.load(spark, sf_dir, "documents")
    weights = {f"src{i}": float((i % 5) + 1) for i in range(20)}
    return mixture_plan(docs, weights, budget_tokens=30000)


def q_apply_mixture(spark, sf_dir):
    """Materialized mixture (curation.apply_mixture_plan): every doc
    replicated target-div-available times plus an md5-selected
    fractional copy — exact integer cross-multiplied keep rule (bucket ·
    available < rem · 65536, no float thresholds), 0-based epoch column.
    Same weights/budget as `mixture_plan`; the oracle replays the plan
    arithmetic, the bucket compare, and the epoch unnest."""
    from streamkit_spark.functions.curation import apply_mixture_plan

    docs = tables.load(spark, sf_dir, "documents")
    weights = {f"src{i}": float((i % 5) + 1) for i in range(20)}
    return (
        apply_mixture_plan(docs, weights, budget_tokens=30000)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    )


def q_cms_user_counts(spark, sf_dir):
    """Count-min-sketch frequency estimates (sketch.cms_build/cms_lookup,
    Cormode-Muthukrishnan '05) for the 20 busiest users: exact count,
    CMS estimate (min over d=4 md5-positioned counter rows, w=4096) and
    the overcount.  The sketch is a ≤ d·w counter table whatever the key
    cardinality; the oracle rebuilds the identical counters nibble-for-
    nibble, so the ESTIMATES hash-match, not just the exact counts."""
    from streamkit_spark.functions.sketch import cms_build, cms_lookup

    ev = _ev(spark, sf_dir)
    # cms_lookup preserves the probe column's original (long) type
    sk = cms_build(ev, "user_id", d=4, w=4096)
    est = cms_lookup(sk, ev, "user_id", d=4, w=4096)
    exact = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )


def q_semantic_clusters(spark, sf_dir):
    """Semantic cluster assignment: connected components
    (dedup.duplicate_clusters — hash-to-min + pointer jumping) over the
    MUTUAL-kNN graph (similarity.mutual_knn_pairs, k=3 brute) — the
    symmetrized-neighborhood grouping that SemDeDup-style pruning and
    near-dup triage read.  Every clustered vector gets its canonical
    representative (min id) + cluster size.  Oracle: the mutual-kNN CTE
    + a recursive-CTE transitive closure (the dedup_clusters replay)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = SIM.mutual_knn_pairs(SIM.knn_graph(emb, k=3, method="brute"))
    cl = D.duplicate_clusters(pairs)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        cl.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").alias("vec_id"), "cluster_id", "cluster_size"
        )
        .orderBy("vec_id")
    )


def q_kmv_overlap(spark, sf_dir):
    """Pairwise audience overlap between event types over (user, day)
    activity sets via KMV sketches (sketch.kmv_overlap, Beyer'07): the
    k=256 smallest salted md5 hashes per group; merged-sketch top-k IS
    the union's top-k, membership flags are exact in-sketch — so the
    Jaccard / union / intersection ESTIMATES are deterministic and the
    oracle replays them to the bit (vs a pairwise distinct join, which
    at 100 TB would shuffle the corpus per pair; the sketch scans it
    once)."""
    from streamkit_spark.functions.sketch import kmv_overlap

    ev = _ev(spark, sf_dir)
    uday = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.expr("(ts div 1000000) div 86400000").cast("string"),
    )
    return kmv_overlap(
        ev.select("event_type", uday.alias("uday")),
        "uday",
        "event_type",
        k=256,
    )


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct users per event type
    (functions/sketch.hll_distinct, Flajolet'07): md5 registers, bucket-
    sorted harmonic fold, linear-counting correction — unlike the
    engine-private approx_count_distinct sketch (see `approx_distinct`'s
    tolerance contract), every step here is byte-replayable in SQL, so
    the ESTIMATE ITSELF hash-matches the oracle.  include_exact adds the
    exact count + relative error for the accuracy report."""
    from streamkit_spark.functions.sketch import hll_distinct

    ev = _ev(spark, sf_dir)
    return hll_distinct(
        ev, "user_id", ["event_type"], b=8, include_exact=True
    )


def q_spearman_corr(spark, sf_dir):
    """Per-returnflag Spearman rank correlation of quantity vs price
    (analytics.spearman_by_group): doubled fractional ranks are exact
    integers, the five Pearson moments aggregate as BIGINTs, and the
    n·Σxy − Σx·Σy combination runs in DECIMAL(38,0) (HUGEINT on the
    oracle) — only the final divide/sqrt is float, identical op order
    on both engines."""
    from streamkit_spark.functions import analytics as AN

    li = tables.load(spark, sf_dir, "lineitem")
    return AN.spearman_by_group(li, "l_returnflag", "l_quantity", "l_extendedprice")


def q_chi2_weekday(spark, sf_dir):
    """Chi-squared independence test of event_type × weekday
    (analytics.chi2_independence): exact integer contingency table,
    one fixed double expression per cell, and the only order-sensitive
    float sum runs as a left fold over the (row, col)-sorted cell list
    — the oracle's list_sum(list(t ORDER BY r, c)) replays it exactly."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    wd = ((F.expr("ts div 86400000000000") + 4) % 7).cast("long")
    return AN.chi2_independence(
        ev.select("event_type", wd.alias("weekday")), "event_type", "weekday"
    )


def q_mad_outliers(spark, sf_dir):
    """Robust per-type outlier report via exact-median MAD
    (analytics.mad_outliers): both medians are order statistics picked
    by row_number — no approx-percentile value error, no tie-order or
    aggregation-order sensitivity — and the |x−med| > 3·mad flag
    compares unrounded doubles with the same expression on both
    engines."""
    from streamkit_spark.functions import analytics as AN

    # NULL-group guard mirrors ab_value_ztest (ADVICE r5).
    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    return AN.mad_outliers(ev, "event_type", "value", k=3.0)


def q_kcore_knn(spark, sf_dir):
    """3-core of the mutual-kNN(5) graph (similarity.k_core, Seidman
    '83): simultaneous peeling to the unique fixpoint — each round drops
    every node with surviving degree < 3 at once, so the result is
    round-count independent and the oracle's recursive-CTE replay (the
    alive set and the edge list carried as row columns, per the repo's
    lambda-no-subquery rule) converges to the identical core.  The
    mutual graph is the one with real degree variance (the raw kNN
    union graph has min degree ≥ k by construction, so its only cores
    are `everything` or `nothing` — measured on this fixture): at
    sf0.01 the peel cascades for 8 rounds before stabilizing."""
    emb = tables.load(spark, sf_dir, "embeddings")
    mut = SIM.mutual_knn_pairs(SIM.knn_graph(emb, k=5, method="brute"))
    return SIM.k_core(mut, k=3, src="id_a", dst="id_b")


def q_cube_revenue(spark, sf_dir):
    """Revenue CUBE over (nation, order year) with grouping markers —
    the multi-dimensional rollup family beyond the 1-D
    `rollup_event_counts`: all four grouping sets in one pass
    (Catalyst expands the cube into a single Expand + aggregate, one
    shuffle).  DECIMAL(18,2) revenue per the money convention; gid is
    grouping_id() engine-side and the equivalent NULL-marker CASE on
    the oracle (the dimension columns are never natively NULL)."""
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    nation = tables.load(spark, sf_dir, "nation")
    base = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").alias("o_year"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
    )
    return (
        base.cube("n_name", "o_year")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("p").cast("double"), 4).alias("revenue"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("o_year").cast("string"), F.lit("ALL")).alias(
                "o_year"
            ),
            "gid",
            "n_orders",
            "revenue",
        )
        .orderBy("gid", "nation", "o_year")
    )


def q_value_trend(spark, sf_dir):
    """Per-type OLS trend of event value over the day index
    (analytics.ols_trend): six exact moments (BIGINT x-sums, exact
    DECIMAL y-sums — partial-agg-order independent), closed-form
    slope/intercept/r2 in double with one fixed op order on both
    engines."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.ols_trend(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
    )


def q_source_ngram_overlap(spark, sf_dir):
    """Cross-source lexical overlap matrix — the train/test-leakage
    readout: pairwise Jaccard/union/intersection of each source's
    3-gram shingle SET, estimated from k=256 KMV sketches
    (sketch.kmv_overlap over text.word_ngrams).  One corpus scan builds
    the sketches; the pair stage touches only sketch rows — at 100 TB
    a pairwise distinct shingle join would reshuffle the corpus per
    source pair.  Same deterministic estimator as `kmv_overlap`, so
    the ESTIMATES hash-match the oracle replay."""
    from streamkit_spark.functions.sketch import kmv_overlap

    docs = tables.load(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(TX.word_ngrams(F.col("text"), 3)).alias("sh3")
    )
    return kmv_overlap(sh, "sh3", "source", k=256)


def q_attribution_linear(spark, sf_dir):
    """Equal-credit multi-touch attribution of purchases to click/view
    touches in the prior 3 days (operators/windows.linear_attribution):
    per-conversion touch counts are exact, every credit is a rational
    1/n, and the only float reduction is a fold over the
    denominator-sorted (n, cnt) list — bounded by the distinct
    denominator count, replayed exactly by the oracle's list_sum."""
    from streamkit_spark.operators.windows import linear_attribution

    ev = _ev(spark, sf_dir)
    return linear_attribution(
        ev,
        "purchase",
        ["click", "view"],
        F.expr("ts div 1000000"),
        window_ms=3 * 86400000,
    )


def q_zipf_shingles(spark, sf_dir):
    """Log-log Zipf fit of the 3-gram shingle document-frequency
    spectrum (text.zipf_fit over word_ngrams counts): rank is a total
    order, all five ln-moments run as rank-sorted left folds (ln parity
    engine↔oracle is the token_entropy precedent), closed form in one
    fixed double op order.  The distributional complement of
    `vocab_spectrum`'s frequency-of-frequencies."""
    docs = tables.load(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(TX.word_ngrams(F.col("text"), 3)).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    return TX.zipf_fit(counts)


def q_weekday_seasonality(spark, sf_dir):
    """Per-type weekday seasonality profile: each weekday's mean value
    relative to the type's overall mean (index 1.0 = no seasonality).
    Exact BIGINT counts + DECIMAL(18,2) sums; the two means and their
    ratio are one fixed double expression from exact components.  The
    per-(type, weekday) table is localCheckpoint'ed — it feeds both
    itself and the per-type totals branch."""
    ev = _ev(spark, sf_dir)
    wd = ((F.expr("ts div 86400000000000") + 4) % 7).cast("long")
    per = (
        # ts guard: a NULL ts would create a NULL weekday group whose
        # sort position diverges (Spark NULLS FIRST vs DuckDB NULLS
        # LAST — the armed windowed-oracle divergence)
        ev.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy("event_type", wd.alias("weekday"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("tn"), F.sum("sv").alias("tsv")
    )
    mean_wd = F.col("sv").cast("double") / F.col("n").cast("double")
    mean_all = F.col("tsv").cast("double") / F.col("tn").cast("double")
    return (
        per.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "weekday",
            "n",
            F.round(mean_wd, 4).alias("avg_value"),
            F.round(mean_wd / mean_all, 4).alias("seasonality"),
        )
        .orderBy("event_type", "weekday")
    )


def q_cusum_changepoint(spark, sf_dir):
    """Per-type CUSUM changepoint over daily value totals
    (analytics.cusum_changepoint): exact decimal cumulative sums, one
    fixed double deviation expression — bit-identical doubles on both
    engines, so the (dev desc, day asc) argmax is stable."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.cusum_changepoint(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
    )


def q_dup_rate_by_source(spark, sf_dir):
    """Dedup impact per source — the pipeline readout behind "which
    crawl is polluting the corpus?": fraction of each source's docs
    that belong to ANY near-dup cluster (minhash LSH pairs →
    duplicate_clusters connected components, the dedup_clusters
    machinery).  Exact integer counts; one double division at the
    end."""
    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    cl = D.duplicate_clusters(pairs)
    flagged = docs.join(
        cl.select("doc_id", F.lit(1).alias("__dup")), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double") / F.col("n_docs").cast("double"),
                4,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def q_benford_values(spark, sf_dir):
    """Benford first-digit audit of event values
    (analytics.benford_profile): leading digits come from the exact
    DECIMAL cent count's string head (never a double repr), counts are
    exact, and the Benford constants are repr literals on both engines
    — the synthetic-data / fraud smell test."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.benford_profile(ev, "value")


def q_benford_value(spark, sf_dir):
    """Per-event-type Benford first-digit audit
    (analytics.benford_by_group — the value-cell sketch's 9th report,
    streaming twin analytics.benford_from_cells over a streaming
    analytics.value_cells): one
    synthetic/capped segment can't hide inside a Benford-clean corpus
    total.  Same determinism contract as benford_values (cent-string
    digits, exact counts, repr-literal constants), segmented."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.benford_by_group(ev, "event_type", "value")


def q_heaps_docs(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over the doc_id-ordered corpus
    (text.heaps_fit): exact integer token/new-type cumulative sums; the
    ln-moment sums are doc-sorted left folds and the closed form
    mirrors ols_trend's op order — the growth companion to
    `zipf_shingles`."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.heaps_fit(docs)


def q_hist_quantiles(spark, sf_dir):
    """Mergeable deterministic quantiles from a fixed-width histogram
    sketch (analytics.histogram_quantiles): integer bucket counts merge
    by addition across partitions/days/micro-batches — the quantile
    member of the sketch family, with value error bounded by one
    stated bucket width (vs approx_percentile's merge-order-sensitive
    GK internals).  Everything is exact integers until the reported
    bound."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.histogram_quantiles(ev, "event_type", "value")


def q_event_assoc(spark, sf_dir):
    """Market-basket association rules over (user, day) baskets of event
    types (analytics.association_rules): exact basket/item/pair counts
    (distinct items per basket, in-row pair enumeration — no basket
    self-join), support/confidence/lift as fixed double expressions
    from exact counts."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.association_rules(
        ev.select(
            "user_id",
            F.expr("ts div 86400000000000").alias("day"),
            "event_type",
        ),
        ["user_id", "day"],
        "event_type",
    )


def q_psi_drift(spark, sf_dir):
    """Population Stability Index of each event type's value
    distribution vs its complement (analytics.psi_profile): exact
    histogram-sketch bucket counts with add-one smoothing over the
    global bucket spine, (p_a−p_rest)·ln(p_a/p_rest) terms summed as a
    bucket-sorted fold — the industry drift metric, deterministic to
    the bit."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.psi_profile(ev, "event_type", "value")


def q_ranksum_value(spark, sf_dir):
    """Per-event-type Mann-Whitney U rank-sum test of value vs the
    complement (analytics.ranksum_by_group) — the nonparametric sibling
    of ab_value_ztest: doubled average ranks come from a cumulative
    window over the DISTINCT-VALUE count table (never raw rows), so
    every rank, rank sum, and the doubled U statistic are exact
    integers; the tie sum rides DECIMAL(38,0)/HUGEINT and only the
    final mean/variance/z arithmetic is float, one expression shape on
    both engines.  The operator's quantize-unbounded-columns contract
    is met here by the data: events.value is 2-dp money, so its
    distinct-value table is bounded by the value range (≤ ~49k cents
    values), not the row count."""
    from streamkit_spark.functions import analytics as AN

    return AN.ranksum_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_ad_value(spark, sf_dir):
    """Per-event-type two-sample Anderson-Darling A² of value vs the
    complement (analytics.ad_by_group, Scholz-Stephens '87 midrank
    A²ₐₖₙ): doubled midranks make every per-value term a ratio of
    exact DECIMAL(38,0)/HUGEINT integers; the complement's T is
    exactly −T(group) so ONE value-ordered fold serves both samples;
    the oracle replays it with list_sum(list(... ORDER BY v))."""
    from streamkit_spark.functions import analytics as AN

    return AN.ad_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_ks_daily(spark, sf_dir):
    """Per-DAY two-sample KS of value vs the rest of the corpus
    (analytics.ks_by_group with the tz-free day index as the group) —
    the shape-drift TREND: which days' value distributions deviated,
    and at what value the CDF gap peaked.  Pure composition over the
    ks_value machinery; the psi_daily precedent applied to the exact
    rank family."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        F.expr("ts div 86400000000000").alias("day"), "value"
    )
    return AN.ks_by_group(ev, "day", "value")


def q_cvm_value(spark, sf_dir):
    """Per-event-type two-sample Cramér-von Mises W² of value vs the
    complement (analytics.cvm_by_group): D = cum₁·n₂ − cum₂·n₁ is an
    exact DECIMAL(38,0) integer at every pooled distinct value, each
    term l·D² is one fixed double ratio, and the only float reduction
    is the v-ordered fold the oracle replays with list_sum."""
    from streamkit_spark.functions import analytics as AN

    return AN.cvm_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_cliffs_value(spark, sf_dir):
    """Per-event-type Cliff's delta of value vs the complement
    (analytics.cliffs_delta_by_group): the effect-size companion to
    ranksum_value's z, from the SAME exact rank machinery
    (_ranksum_parts) — δ = (u2 − n1·n2)/(n1·n2) with u2 the exact
    doubled U; one exact-integer difference, one double division."""
    from streamkit_spark.functions import analytics as AN

    return AN.cliffs_delta_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_weekday_outliers(spark, sf_dir):
    """Seasonality-corrected daily anomalies per event type
    (analytics.weekday_adjusted_outliers): each observed day's exact
    DECIMAL(18,2) total vs its weekday's exact-median expectation,
    then MAD fences on the residuals — every location estimate is an
    order statistic via the shared _median_rank_filter selection, and
    the |r − med| > 3·MAD flag compares unrounded doubles with one
    expression shape on both engines."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "event_type", F.expr("ts div 86400000000000").alias("day"), "value"
    )
    return AN.weekday_adjusted_outliers(ev, "event_type", "day", "value")


def q_theil_value(spark, sf_dir):
    """Per-event-type Theil T inequality of value
    (analytics.theil_by_group): exact cent counts and Σx; the only
    float reduction folds (c·(x/μ))·ln(x/μ) in ascending cent order,
    replayed by the oracle's list_sum(list(t ORDER BY xd)) — the
    entropy complement to gini_value on the same cell machinery."""
    from streamkit_spark.functions import analytics as AN

    return AN.theil_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_mi_weekday(spark, sf_dir):
    """Mutual information (nats) between event_type and weekday
    (analytics.mutual_information): exact integer contingency counts;
    the MI cell sum and both marginal entropies each run as a sorted
    left fold the oracle replays with list_sum(list(... ORDER BY)) —
    the chi2_weekday machinery turned information-theoretic, plus the
    normalized MI/√(H_r·H_c)."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    wd = ((F.expr("ts div 86400000000000") + 4) % 7).cast("long")
    return AN.mutual_information(
        ev.select("event_type", wd.alias("weekday")), "event_type", "weekday"
    )


def q_cramers_weekday(spark, sf_dir):
    """Cramér's V for event_type × weekday (analytics.cramers_v):
    effect-size composition over the chi2_weekday machinery — V is
    derived from the already-rounded chi2 so both engines compose
    identically-rounded inputs."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    wd = ((F.expr("ts div 86400000000000") + 4) % 7).cast("long")
    return AN.cramers_v(
        ev.select("event_type", wd.alias("weekday")), "event_type", "weekday"
    )


def q_ks_value(spark, sf_dir):
    """Per-event-type two-sample Kolmogorov-Smirnov distance of value
    vs the complement (analytics.ks_by_group): both empirical CDFs are
    step functions over observed values, so D is an exact integer max
    |i·n2 − j·n1| over the groups × distinct-values grid (products in
    DECIMAL(38,0)/HUGEINT), divided once at the end; the argmax value
    is pinned by an explicit (d DESC, v ASC) row_number.  The grid is
    bounded because events.value is 2-dp money (distinct values capped
    by the value range — the operator's quantize-first contract)."""
    from streamkit_spark.functions import analytics as AN

    return AN.ks_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_gini_value(spark, sf_dir):
    """Per-event-type Gini concentration of value
    (analytics.gini_by_group): values ride DECIMAL(18,2) cents so Σx
    and the rank-weighted Σi·x are exact decimals — and Σi·x is
    tie-stable (equal x factors out of each tie block, so the window's
    nondeterministic tie order cannot leak) — with one fixed double
    combination at the end."""
    from streamkit_spark.functions import analytics as AN

    return AN.gini_by_group(_ev(spark, sf_dir), "event_type", "value")


def q_winsorized_value(spark, sf_dir):
    """Per-event-type winsorized mean at [p5, p95]
    (analytics.winsorized_stats): both bounds are EXACT order
    statistics picked by row_number (the mad_outliers discipline);
    clamping and both sums run on DECIMAL(18,2) with one double
    division at the end."""
    from streamkit_spark.functions import analytics as AN

    return AN.winsorized_stats(_ev(spark, sf_dir), "event_type", "value")


def q_kendall_value_hour(spark, sf_dir):
    """Per-event-type Kendall tau-b of ($25-bucketed value) vs
    hour-of-day (analytics.kendall_tau_binned): concordant/discordant
    pair counts are exact Σc₁·c₂ sums over ordered cell pairs of the
    quantized joint table, ties come from the marginals, and the pair
    counts ride DECIMAL(38,0)/HUGEINT — only the final ratio is float.
    Quantization bounds the O(cells²) join; the bucket uses the
    sign-guarded floor identity (Spark div truncates, DuckDB //
    floors) and hour falls out of epoch arithmetic tz-free."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    binned = ev.select(
        "event_type",
        F.col("ts"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    ).select(
        "event_type",
        AN.floor_bucket("c", 2500).cast("long").alias("vb"),
        F.expr("(ts div 3600000000000) % 24").cast("long").alias("hr"),
    )
    return AN.kendall_tau_binned(binned, "event_type", "vb", "hr")


def q_kendall_exact(spark, sf_dir):
    """Per-event-type Kendall tau-b of RAW value vs event time
    (analytics.kendall_tau_exact): Knight's O(n log n) merge-sort
    inversion count inside applyInPandas — the exact complement to
    kendall_value_hour's quantized cell formulation.  C, D and the tie
    pair-counts are exact integers whatever the partitioning; tau is
    one Spark-side float expression over their exact-int differences.
    The oracle replays the same integers with an O(n²) rn-ordered pair
    join (feasible at sf0.01) — identical counts, identical tau.
    Engine y is epoch-ns, oracle y is epoch-us: tau-b is invariant
    under the monotone ×1000 (same order, same ties)."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select("event_type", "value", "ts")
    return AN.kendall_tau_exact(ev, "event_type", "value", "ts")


def q_kl_sources(spark, sf_dir):
    """Per-source KL divergence of the unigram distribution from the
    whole corpus (text.kl_by_group) — the DSIR/DoReMi-style domain
    shift readout: p and q stay exact integer ratios until the double
    division inside each term, and the cross-token float sum runs as
    an ascending-token left fold the oracle replays term-for-term (the
    token_entropy precedent).  No smoothing: group support ⊆ corpus
    support by construction."""
    from streamkit_spark.functions.text import kl_by_group

    docs = tables.load(spark, sf_dir, "documents")
    return kl_by_group(docs, "source", "text")


def q_psi_daily(spark, sf_dir):
    """Per-day PSI of the value distribution vs the complement of all
    other days (analytics.psi_profile with the integer day index as the
    group) — the drift TREND over time the VERDICT candidate list asked
    for: which days' traffic distributions diverged?  Same exact
    histogram-sketch machinery as psi_drift; the tz-free day index is
    pure epoch arithmetic on both engines."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).filter(F.col("ts").isNotNull())
    daily = ev.select(
        F.expr("ts div 86400000000000").cast("long").alias("day"),
        "value",
    )
    return AN.psi_profile(daily, "day", "value")


def q_seasonal_strength(spark, sf_dir):
    """Per-event-type weekly seasonal strength of daily value totals
    (analytics.seasonal_strength): the ANOVA eta² of the weekday
    grouping — 1 − SSW/SST over the gap-free observed daily series.
    Daily totals ride DECIMAL(18,2) (loud overflow guard), every
    per-weekday moment is exact, each remainder term is one fixed
    double expression, and SSW folds those 7 terms in phase order
    (array_sort+aggregate ≡ list_sum ORDER BY — the
    embedding_covariance fold-parity family).  Phase is day % 7 —
    the statistic is invariant to any calendar relabeling, so no
    anchor shift is exposed; tz-free epoch arithmetic."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    return AN.seasonal_strength(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
        period=7,
    )


def q_acf_daily(spark, sf_dir):
    """Per-event-type lag-1..7 autocorrelation of the GAP-FILLED daily
    value series (analytics.acf_by_group): missing days materialize as
    0.00 rows on the global day span (skipping gaps would misalign
    every lag), the five paired moments are exact DECIMAL(18,2) sums,
    and the lag-Pearson combination is one fixed double expression with
    both variance guards firing BEFORE the sqrt.  The spine is
    localCheckpoint'ed — the lag join references it twice (the
    derived-table self-join rule)."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).filter(F.col("event_type").isNotNull())
    return AN.acf_by_group(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
        max_lag=7,
    )


def q_wilson_high_value(spark, sf_dir):
    """Per-event-type share of high-value rows (value > 50) with its
    Wilson score interval (analytics.wilson_by_group): the interval is
    one fixed double expression from the exact (n, successes) counts,
    so both engines agree bit-for-bit; the sqrt argument is nonnegative
    by construction (p = s/n ∈ [0,1] exactly in IEEE)."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    return AN.wilson_by_group(
        ev.select("event_type", (F.col("value") > F.lit(50)).alias("hi")),
        "event_type",
        "hi",
        z=1.96,
    )


def q_jsd_sources(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (text.jsd_by_group_pairs) — the symmetric, ≤ ln 2
    bounded domain-difference matrix.  Only shared tokens reach the
    pair stage (the one-sided remainder collapses to ln 2 mass);
    co-occurring pairs enumerate in-row per token — no self-join; all
    three per-pair float reductions are ascending-token left folds the
    oracle replays term-for-term."""
    from streamkit_spark.functions.text import jsd_by_group_pairs

    docs = tables.load(spark, sf_dir, "documents")
    return jsd_by_group_pairs(docs, "source", "text")


def q_kendall_matrix(spark, sf_dir):
    """Pairwise Kendall tau-b between source unigram frequency profiles
    over the union vocabulary (text.kendall_profile_pairs) — the
    rank-correlation drift matrix: jsd_sources measures mass
    divergence, this measures whether two sources RANK their vocabulary
    the same way (size-invariant).  Exact integer counts on the
    zero-filled source × vocabulary spine; tau-b via the quantized-cell
    machinery (analytics.kendall_tau_binned) with integer counts AS the
    quantization; in-row pair enumeration per token — no derived-table
    self-join."""
    from streamkit_spark.functions.text import kendall_profile_pairs

    docs = tables.load(spark, sf_dir, "documents")
    return kendall_profile_pairs(docs, "source", "text")


def q_xcorr_daily(spark, sf_dir):
    """Pairwise Pearson correlation between event types' gap-filled
    daily value series (analytics.xcorr_daily): both series share the
    global-span 0.00-filled spine so every pair aligns over the same
    n_days; per-day group pairs enumerate in-row
    (pairs_from_sorted_groups); exact decimal moments, one fixed double
    Pearson with guards before the sqrt."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.xcorr_daily(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
    )


def q_token_burstiness(spark, sf_dir):
    """Per-token burstiness profile (text.burstiness_by_token, Church &
    Gale 1995): variance-to-mean ratio over ALL docs — the zero docs
    absorbed in closed form by the exact BIGINT moments (D·Σc² − T²)/
    (D·T) — plus mean occurrences per containing doc.  Vocabulary-sized
    output after one (doc, token) shuffle; df ≥ 16 cuts the hapax
    tail."""
    from streamkit_spark.functions.text import burstiness_by_token

    docs = tables.load(spark, sf_dir, "documents")
    return burstiness_by_token(docs, "doc_id", "text", min_df=16)


def q_interarrival(spark, sf_dir):
    """Per-event-type inter-arrival profile (analytics.interarrival
    _stats): gaps between consecutive events inside each (type, user)
    stream ordered by (ts, event_id); median and p90 are EXACT order
    statistics via row_number rank selection (ties rank arbitrarily but
    the selected VALUE is tie-invariant); integer rank arithmetic uses
    `div` on positive operands so Spark's truncation and DuckDB's
    flooring agree."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.interarrival_stats(
        ev.select(
            "event_type",
            "user_id",
            F.expr("ts div 1000000").alias("ts_ms"),
            "event_id",
        ),
        "event_type",
        "user_id",
        "ts_ms",
        order_cols=("event_id",),
    )


def q_robust_trend(spark, sf_dir):
    """Per-event-type Mann-Kendall trend test + Theil-Sen slope over
    daily value totals (analytics.robust_trend): S and the tie counts
    are exact integers (variance products in DECIMAL(38,0)/HUGEINT),
    each pairwise slope is one double division of exact decimal/BIGINT
    components, the median slope is an exact order statistic via the
    shared rank selection, and day pairs enumerate IN-ROW from each
    group's sorted array — never a daily-table self-join."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.robust_trend(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
    )


def q_holt_daily(spark, sf_dir):
    """Per-event-type Holt double-exponential level/trend/forecast over
    the gap-filled daily value series (analytics.holt_smooth): the
    two-state recursion runs as a left fold with a STRUCT accumulator,
    replayed bit-for-bit by DuckDB's no-init list_reduce over struct
    elements (first element = init {l: y0, b: 0}); l_t is inlined
    twice identically inside b_t on both engines; α/β are exact
    repr literals."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    return AN.holt_smooth(
        ev.select(
            "event_type",
            F.expr("ts div 86400000000000").alias("day"),
            "value",
        ),
        "event_type",
        "day",
        "value",
        alpha=0.5,
        beta=0.3,
    )


def q_score_calibration(spark, sf_dir):
    """Reliability diagram of the hashed-feature quality classifier
    against the Gopher/C4 rule gate (analytics.calibration_report =
    rank_buckets ∘ wilson_by_group): per score-rank decile, the actual
    rule-pass rate with its Wilson interval and the bucket's score
    range.  Exact integer bucketing over the distinct-score table (the
    doc_length_deciles machinery), exact counts, one fixed double
    Wilson expression — pure composition, every guarantee inherited."""
    from streamkit_spark.functions import analytics as AN

    return AN.calibration_report(
        _qc_gate_joined(spark, sf_dir), "score", "passes", n_buckets=10
    )


def q_dedup_sweep(spark, sf_dir):
    """Jaccard threshold sweep (dedup.jaccard_threshold_sweep): the
    dedup tuning curve — pair count, affected-doc count, and dup rate
    at 0.5..0.9 from ONE PPJoin candidate computation; the unrounded
    exact-ratio jaccard compares against each threshold literal exactly
    as an independent run would.  Thresholds are exact repr literals on
    both engines."""
    from streamkit_spark.functions import dedup as D

    docs = tables.load(spark, sf_dir, "documents")
    return D.jaccard_threshold_sweep(
        docs, thresholds=(0.5, 0.6, 0.7, 0.8, 0.9), n=3
    )


def q_classifier_auc(spark, sf_dir):
    """Ranking AUC of the quality classifier against the rule gate
    (analytics.auc_report): AUC = U⁺/(n⁺·n⁻) via the exact Mann-Whitney
    rank machinery — doubled average ranks over the distinct-score
    table make U an exact half-integer, ties get the standard 0.5
    credit, and the only float step is one division of exact
    components.  The threshold-free companion of score_calibration."""
    from streamkit_spark.functions import analytics as AN

    return AN.auc_report(_qc_gate_joined(spark, sf_dir), "score", "passes")


def _qc_gate_joined(spark, sf_dir):
    """Shared classifier-score ⋈ rule-gate input for every classifier
    diagnostic (score_calibration, classifier_auc, gate_kappa,
    calibration_ece, calibration_brier) — the ONE definition,
    curation.classifier_gate_table, so a bias or rule change cannot
    desynchronize them."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.classifier_gate_table(docs, bias=0.1)


def q_classifier_ap(spark, sf_dir):
    """Step-interpolated average precision of the quality classifier
    against the rule gate (analytics.average_precision_report — the
    scikit-learn AP definition): the PR-curve companion of
    classifier_auc.  ROC-AUC is prevalence-blind, so on an imbalanced
    keep-gate a high AUC can coexist with terrible precision at every
    operating point; AP weights each threshold by the recall it adds.
    Exact integer threshold cells + cumulative TP/N, one
    score-descending sorted fold of the (ΔR·P) terms — tie handling is
    exact (all rows at a score enter at one threshold), no doc-order
    tie-break exists."""
    from streamkit_spark.functions import analytics as AN

    return AN.average_precision_report(
        _qc_gate_joined(spark, sf_dir), "score", "passes"
    )


def q_gate_kappa(spark, sf_dir):
    """Cohen's kappa between the classifier gate (score ≥ 0.1) and the
    Gopher/C4 rule gate (analytics.cohen_kappa): chance-corrected
    agreement between the two keep decisions — raw accuracy is inflated
    whenever one label dominates; κ is the honest number.  Exact
    contingency/marginal/diagonal integers, chance mass in
    DECIMAL(38,0), ONE double division — no float reduction anywhere
    (the chi2_independence discipline)."""
    from streamkit_spark.functions import analytics as AN

    j = _qc_gate_joined(spark, sf_dir).select(
        (F.col("score") >= F.lit(0.1)).alias("clf_keep"), "passes"
    )
    return AN.cohen_kappa(j, "clf_keep", "passes")


def q_calibration_ece(spark, sf_dir):
    """Expected / maximum calibration error of the quality classifier
    against the rule gate (analytics.expected_calibration_error): the
    4dp score squashed into [0, 1] by the fixed affine clamp
    p = clamp(score + 0.5), then fixed-width decile bins compare each
    bin's mean predicted p with its actual rule-pass rate.  Per-bin
    terms are single double divisions of exact components (counts + the
    exact DECIMAL(18,4) probability sum); the only cross-bin float sum
    folds over the bucket-sorted ≤10-element bin list."""
    from streamkit_spark.functions import analytics as AN

    # the affine shift only; calibration_cells clamps into [0, 1] itself
    p = F.col("score") + F.lit(0.5)
    j = _qc_gate_joined(spark, sf_dir).select(p.alias("prob"), "passes")
    return AN.expected_calibration_error(j, "prob", "passes", n_buckets=10)


def q_calibration_brier(spark, sf_dir):
    """Murphy reliability/resolution/uncertainty decomposition of the
    binned Brier score for the same squashed classifier probability
    (analytics.brier_decomposition over the SAME calibration cells as
    calibration_ece): is the score miscalibrated (REL), or merely
    uninformative (low RES vs UNC)?  Same determinism contract as
    calibration_ece — two more bucket-sorted folds over ≤10 bins."""
    from streamkit_spark.functions import analytics as AN

    # the affine shift only; calibration_cells clamps into [0, 1] itself
    p = F.col("score") + F.lit(0.5)
    j = _qc_gate_joined(spark, sf_dir).select(p.alias("prob"), "passes")
    return AN.brier_decomposition(j, "prob", "passes", n_buckets=10)


def q_hill_tail(spark, sf_dir):
    """Per-event-type Hill tail-index over the top-100 values
    (analytics.hill_tail_by_group): the heavy-tail exponent audit —
    α ≤ 2 means infinite variance, so means/z-tests on that segment
    are lies.  The (k+1)-th-largest threshold is an exact order
    statistic from the distinct-value cell table (integer cumulative
    counts, tie-safe); each term c·ln(v/u) is one fixed double
    expression; the only float sum folds in ascending-value order,
    replayed by the oracle's list_sum(list(.. ORDER BY v))."""
    from streamkit_spark.functions import analytics as AN

    return AN.hill_tail_by_group(
        _ev(spark, sf_dir), "event_type", "value", k=100
    )


def q_user_novelty(spark, sf_dir):
    """Daily new-vs-returning user profile with the running distinct-
    user total (analytics.user_novelty): is the stream acquiring new
    actors or re-serving the same ones?  Pure exact integer counting —
    per-user min-day, per-day distinct, and an integer cumulative
    window over the day-count-sized daily table."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).select(
        "user_id", F.expr("ts div 86400000000000").alias("day")
    )
    return AN.user_novelty(ev, "user_id", "day")


def q_embedding_drift(spark, sf_dir):
    """Pairwise diagonal-covariance Fréchet distance between the
    embedding populations of each label (similarity.embedding_drift,
    exact_sums fold path): d² = Σ(μa−μb)² + Σ(σa−σb)² — the
    embedding-space drift matrix, the vector sibling of jsd_sources /
    kendall_matrix.  Per-(label, dim) Σx/Σx² are id-ordered left folds
    (the embedding_covariance pattern), σ is sqrt-guarded at ≤ 0, and
    the cross-dimension sum folds in dimension order; label pairs
    enumerate in-row per dimension (group-and-enumerate, never a
    derived-table self-join in the engine plan)."""
    from streamkit_spark.functions import similarity as SIM

    emb = tables.load(spark, sf_dir, "embeddings")
    return SIM.embedding_drift(emb, exact_sums=True)


def q_rbo_sources(spark, sf_dir):
    """Pairwise rank-biased overlap between source top-20 token
    rankings (text.rbo_pairs, Webber'10 truncated RBO@k): the
    top-weighted drift matrix — kendall_matrix compares the full
    vocabulary ordering, RBO asks whether sources agree on what
    matters MOST.  Exact count rankings with a total tie-break; the
    geometric weights are python-computed floats emitted as identical
    literals on both engines (never pow() re-derived); depth terms
    fold in ascending-d order."""
    from streamkit_spark.functions import text as T

    docs = tables.load(spark, sf_dir, "documents")
    return T.rbo_pairs(docs, "source", "text", k=20, p=0.9)


def q_oov_rates(spark, sf_dir):
    """Per-source out-of-vocabulary rate against the corpus top-20
    token vocabulary (text.oov_by_group): the tokenizer-coverage audit.
    Exact global count ranking with a total tie-break, exact BIGINT
    occurrence counts, one double division."""
    from streamkit_spark.functions import text as T

    docs = tables.load(spark, sf_dir, "documents")
    return T.oov_by_group(docs, "source", "text", vocab_k=20)


def q_burrows_delta(spark, sf_dir):
    """Pairwise Burrows' Delta stylometry distance between sources
    (text.burrows_delta_pairs): z-scored top-50 token frequencies,
    mean |Δz| per pair — every head token weighted equally after
    variance normalization, the style-drift matrix next to JSD (mass),
    Kendall (ordering), RBO (head).  Relative frequencies are single
    divisions of exact counts on the zero-filled spine; mean/sd folds
    in group order, sd sqrt-guarded; the pair sum folds in token
    order."""
    from streamkit_spark.functions import text as T

    docs = tables.load(spark, sf_dir, "documents")
    return T.burrows_delta_pairs(docs, "source", "text", vocab_k=50)


def q_dedup_containment(spark, sf_dir):
    """Exact n-gram max-containment near-dup pairs
    (dedup.containment_pairs): |A∩B|/min(|A|,|B|) ≥ 0.6 — the
    asymmetric detector for quote-inclusion/subset duplication that
    Jaccard misses when sizes differ.  Candidates via the PPJoin
    prefix bound on the SMALLER side's rarest shingles (exact recall;
    the containing side emits its full set); the threshold compare is
    exact integer arithmetic."""
    from streamkit_spark.functions.dedup import containment_pairs

    docs = tables.load(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.6)


def q_dup_cluster_sizes(spark, sf_dir):
    """Near-duplicate cluster-size histogram (dedup.duplicate_clusters
    over the MinHash-LSH pair graph, then exact integer counting): how
    much of the corpus sits in 2-doc pairs vs mega-clusters — the
    shape that decides whether cluster-collapse dedup removes 1% or
    30% of the data.  Oracle: the dedup_clusters recursive-CTE closure
    plus the same two-level count.

    NOTE: the engine's pairs come from minhash_lsh_pairs (16x4 banding,
    per-pair candidate recall ~0.89 at j ~= 0.6) while the oracle closure
    is brute-force exact Jaccard >= 0.6 — equality relies on the fixture's
    duplicates sitting well above the banding knee (same dependence as
    the long-green dedup_clusters query).  If a future fixture plants
    j ~= 0.6 pairs, derive the histogram from an exact-verified pair
    source (ngram_jaccard_pairs) instead."""
    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6)
    cl = D.duplicate_clusters(pairs)
    sizes = cl.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def q_containment_split(spark, sf_dir):
    """Leakage-safe split over the UNION near-dup graph
    (dedup.union_pair_edges ∘ curation.cluster_safe_split): exact
    Jaccard pairs AND exact max-containment pairs feed ONE cluster
    graph, so the quote-inclusion duplication Jaccard misses (the
    subset pair dedup_containment pins) can no longer straddle the
    train/test boundary (VERDICT r8 item #6; Lee et al. 2022 §5 — a
    leaked pair is a leaked pair whichever detector found it).  Both
    pair sources are exact-verified, so unlike leakage_safe_split's
    LSH graph the oracle closure has no banding-recall dependence.
    Oracle: one shingle/size/co-occurrence CTE chain, pairs kept on
    (jaccard OR containment) via exact integer threshold compares,
    recursive closure, then the identical md5 bucket CASE on
    coalesce(cluster_id, doc_id)."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    ranks = D.shingle_ranks(docs)
    edges = D.union_pair_edges(
        D.ngram_jaccard_pairs_from_ranks(ranks, threshold=0.6),
        D.containment_pairs_from_ranks(ranks, threshold=0.6),
    )
    return (
        C.cluster_safe_split(docs, edges)
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    )


def q_source_dup_matrix(spark, sf_dir):
    """Cross-source duplication matrix (dedup.pair_source_matrix over
    exact n-gram Jaccard pairs): near-dup PAIR counts by the
    (source_a, source_b) of their endpoints — which crawl copies from
    which (off-diagonal) vs within-source boilerplate (diagonal).
    dup_rate_by_source says how much; this says where the duplicates
    point.  Exact pair predicate, exact integer counts."""
    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
    return D.pair_source_matrix(pairs, docs)


def q_effective_tokens(spark, sf_dir):
    """Dedup-adjusted token contribution per source
    (curation.effective_token_report): collapse each exact-Jaccard
    near-dup component to its min-id representative (Lee et al. 2022
    cluster-collapse), then per source report raw vs EFFECTIVE token
    mass — the honest input to token-budget mixture planning.  Counts
    and token sums exact integers; one double division rounded 4dp.
    Oracle: the dedup_clusters closure + the tokens() mirror + the
    same kept-representative CASE."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.6)
    return C.effective_token_report(docs, pairs)


def _ann_recall_report(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared recall@k report shape for the ANN audits: per query, how
    many of the exact top-k the approximate path recovered.  Inputs are
    slim (query_id, neighbor_id) frames; the hit join is integer
    equality, never a float compare."""
    apx = approx.select("query_id", "neighbor_id", F.lit(1).alias("__h"))
    return (
        brute.select("query_id", "neighbor_id")
        .join(apx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_brute"),
            F.sum(F.coalesce(F.col("__h"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            "query_id",
            "n_brute",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_brute").cast("double"),
                4,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def q_ivf_recall(spark, sf_dir):
    """Recall@5 audit of the IVF ANN path against exact brute force —
    measure the approximation, don't trust it (the dedup_sweep
    discipline applied to ANN): per query vector, how many of the true
    top-5 neighbors the IVF probe set recovers.
    ``(query_id, n_brute, n_hit, recall)``.  Both paths are
    deterministic ((cos DESC, neighbor_id) tie-break) and the oracle
    replays each bit-for-bit, so the report is hash-stable.  Caveat on
    interpretation: IVF scores with float products while brute scores
    in double (the r5 zip_with class, ~1e-8/cosine), so a near-tie AT
    the k boundary can read as ±1 hit — part of the measured system,
    not a probe miss; counts are integers and recall one double
    division."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(emb, queries, k=5, round_digits=4)
    ivf = SIM.ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=3, round_digits=4
    )
    return _ann_recall_report(brute, ivf)


def q_lsh_recall(spark, sf_dir):
    """Recall@5 audit of the hyperplane-LSH ANN path against exact
    brute force (VERDICT r9 item #6 — the ivf_recall discipline applied
    to the OTHER approximate path, so both ANN approximations are
    audited rather than one audited and one trusted-by-derivation).
    Per query vector: ``(query_id, n_brute, n_hit, recall)``.  Both
    paths are deterministic (seeded hyperplanes, (cos DESC,
    neighbor_id) tie-break) and the oracle composes the two existing
    ANN oracle strings verbatim, so the report is hash-stable.  Unlike
    ivf_recall there is no float/double near-tie caveat: lsh_topk
    pre-casts candidate vectors to double (r10 — raw float arrays
    would multiply in FLOAT, the r5 zip_with class, while its oracle
    scores in double), so both paths score in exact double and a
    missed neighbor is a genuine bucket miss — the measured
    counterpart of the analytic recall 1-(1-p^bits)^T documented on
    lsh_topk."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(emb, queries, k=5, round_digits=4)
    lsh = SIM.lsh_topk(
        emb, queries, k=5, bits=4, n_tables=8, round_digits=4, dim=64
    )
    return _ann_recall_report(brute, lsh)


def q_pq_recall(spark, sf_dir):
    """Recall@5 audit of the PQ/ADC path against exact brute force
    (VERDICT r10 item #2 — completes the audit family: all four
    approximate ANN paths now carry a measured recall instead of
    trust-by-derivation).  Unlike IVF/LSH, PQ's loss is QUANTIZATION,
    not pruning: every corpus vector is scored, but through m codeword
    reconstructions, so a miss means the compressed geometry reordered
    the top-k — recall here measures how much ranking the 16-64×
    memory cut costs.  The approx side IS q_pq_adc_topk (one source of
    truth — identical params, codebooks, tie-breaks); the oracle
    composes the two declared oracle strings verbatim."""
    apx = q_pq_adc_topk(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(emb, queries, k=5, round_digits=4)
    return _ann_recall_report(brute, apx)


# BM25 query terms shared by the engine query and its oracle (one source
# of truth): one rare term (df~25/500) + two common ones, so the ranking
# exercises both the idf spread and the length normalization.
_BM25_TERMS = ("dup", "merge", "window")


def q_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval (text.bm25_topk, Robertson-Spärck Jones
    with Lucene's positive-idf form): top-15 documents for a 3-term
    query — the missing retrieval primitive next to tf_idf_top_terms.
    One tokenize pass, one doc-keyed aggregate (dl + per-term tfs as
    conditional sums), one broadcast stats row; every count exact
    BIGINT, the idf/norm floats evaluated in a FIXED sorted-term
    expression both engines replay bit-for-bit; top-k via
    orderBy+limit (TakeOrdered), never a global rank window."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.bm25_topk(
        docs, list(_BM25_TERMS), k1=1.2, b=0.75, top_k=15
    )


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: RRF fusion of the BM25 lexical ranking and the
    dense embedding ranking (text.rrf_fuse, Cormack'09 k=60) — the
    standard training-free lexical+dense combiner.  Both retrievers
    are the declared operators at top-50 (bm25_topk with _BM25_TERMS;
    brute cosine neighbors of query vector 0); only RANKS cross the
    fusion boundary, so incomparable scores never mix.  Missing-list
    contributions are exactly 0; the two 1/(60+rank) terms sum in
    fixed list order; top-15 by (score DESC, doc_id)."""
    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")
    lex = TX.bm25_topk(docs, list(_BM25_TERMS), top_k=50).select(
        "doc_id", "rank"
    )
    dense = SIM.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=50, round_digits=4
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return TX.rrf_fuse([lex, dense], k=60, top_k=15)


def q_km_conversion(spark, sf_dir):
    """Kaplan-Meier time-to-first-purchase curve
    (analytics.km_curve, Kaplan-Meier 1958): hours from a user's first
    event to their first purchase, with ADMINISTRATIVE right-censoring
    at min(72h, time observed before the stream ends) — the survival
    answer to "how fast do users convert?", which a plain conversion
    rate can't give when observation windows differ.  A user whose
    purchase lands within the censoring horizon is an event at that
    hour; everyone else is censored at their horizon (ties at the
    horizon count as events, the standard convention).  Exact integer
    cells + at-risk windows; survival = time-sorted prefix product
    fold, replayed by DuckDB list_reduce."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ms = F.expr("ts div 1000000")
    pu = ev.groupBy("user_id").agg(
        F.min(ms).alias("f"),
        F.min(
            F.when(F.col("event_type") == "purchase", ms)
        ).alias("p"),
    )
    tmax = ev.agg(F.max(ms).alias("tmax"))
    j = pu.join(F.broadcast(tmax))
    lobs = F.least(F.lit(72), F.expr("(tmax - f) div 3600000"))
    durp = F.expr("(p - f) div 3600000")
    observed = F.col("p").isNotNull() & (durp <= lobs)
    rows = j.select(
        F.when(observed, durp).otherwise(lobs).alias("dur"),
        observed.alias("obs"),
    )
    return AN.km_curve(rows, "dur", "obs")


def q_ql_search(spark, sf_dir):
    """Dirichlet query-likelihood retrieval (text.ql_topk, Zhai &
    Lafferty SIGIR'01, μ=100 ≈ the fixture's document length): the
    language-modeling scorer next to bm25_search — same one-pass
    aggregate, same broadcast stats row (collection term frequencies
    ride it), score = Σ ln((tf + μ·cf/|C|)/(dl + μ)) in fixed
    sorted-term order."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.ql_topk(docs, list(_BM25_TERMS), mu=100.0, top_k=15)


def q_log_odds_tokens(spark, sf_dir):
    """Monroe-Colaresi-Quinn "Fightin' Words" (2008): per source, the
    top-5 tokens most overrepresented vs the complement by the
    informative-Dirichlet log-odds z-score (text.log_odds_by_group,
    α₀=100 scaled by the corpus distribution) — the principled "what
    words define this source" list (prior shrinks rare-token noise,
    z standardizes by sampling variance, unlike raw PMI/tf-idf
    rankings).  Exact BIGINT counts, ONE pinned prior/odds/variance
    float expression, z rounded before ranking."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.log_odds_by_group(docs, "source", alpha0=100.0, top_k=5)


def q_token_diversity(spark, sf_dir):
    """Hill-number vocabulary diversity per source
    (text.token_diversity_by_group, Hill 1973): richness ⁰D,
    effective vocabulary size ¹D = exp(Shannon), head-weighted ²D =
    inverse Simpson, and Pielou evenness — ¹D collapsing while
    richness stays flat is the template-corpus signature.  Shannon
    from a token-sorted fold (ln parity), Σc² exact BIGINT, one
    division for ²D."""
    docs = tables.load(spark, sf_dir, "documents")
    return TX.token_diversity_by_group(docs, "source")


def q_jt_trend(spark, sf_dir):
    """Jonckheere-Terpstra ordered-trend test of event value across the
    four quarters of the day (analytics.jt_trend_by_group, Hollander &
    Wolfe eq. 6.19 tie-corrected variance): does value drift
    monotonically from night to evening?  The k-sample Mann-Whitney
    for an A-PRIORI ordering — more powerful than Kruskal-Wallis when
    the alternative is a trend.  2·JT, every group size, the pooled
    tie sums, and the H0 mean Σ_{i<j} n_i·n_j are exact
    DECIMAL(38,0)/HUGEINT integers from the pivoted distinct-value
    cell table; the only floats are the three variance terms and one z
    division, in ONE expression shape both engines replay."""
    from streamkit_spark.functions import analytics as AN

    ev = _ev(spark, sf_dir)
    df = ev.select(
        F.expr("(((ts div 1000000) div 3600000) % 24) div 6").alias("dayq"),
        "value",
    )
    return AN.jt_trend_by_group(df, "dayq", "value", [0, 1, 2, 3])


def q_minhash_fidelity(spark, sf_dir):
    """Signature-fidelity audit of the MinHash Jaccard estimator
    (dedup.minhash_fidelity): per LSH candidate pair, the 64-slot
    signature-agreement estimate next to the exact shingle Jaccard —
    the recall-audit discipline applied to dedup's approximation.  The
    declared query pins hash_fn="md5" (24-bit digest heads, the
    bloom/bootstrap oracle-path precedent) so DuckDB replays every
    slot min, band bucket string, candidate pair, agreement count, and
    both Jaccards bit-for-bit; production runs the xxhash64 path with
    identical semantics."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.minhash_fidelity(
        docs, num_hashes=64, bands=16, ngram=3, hash_fn="md5"
    )


def q_ivfadc_recall(spark, sf_dir):
    """Recall@5 audit of the IVFADC (residual-PQ) path against exact
    brute force — the compound approximation: coarse-list pruning
    (ivf_recall's error source) ON TOP OF residual quantization
    (pq_recall's), Jégou'11's billion-scale trade measured end-to-end.
    The approx side IS q_ivfadc_topk (shared component cache, identical
    nprobe/codebooks); the oracle composes the declared oracle strings
    verbatim, so near-tie float effects are replayed bit-for-bit and
    the report is hash-stable."""
    apx = q_ivfadc_topk(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(emb, queries, k=5, round_digits=4)
    return _ann_recall_report(brute, apx)


def q_bootstrap_token_ci(spark, sf_dir):
    """Per-source Poisson-bootstrap 95% CI of mean tokens/doc
    (analytics.poisson_bootstrap_ci, B=200 — Chamandy et al. 2012, the
    one-pass bootstrap for massive data): is source A's mean document
    length actually different from source B's, or is the gap inside
    resampling noise?  Weights are deterministic hash-derived Poisson(1)
    counts (24-bit md5 head vs the POISSON1_T24 integer thresholds),
    replicate sums are exact BIGINT, and the CI is an exact order
    statistic over replicate means — the oracle replays every weight,
    sum, and rank bit-for-bit."""
    from streamkit_spark.functions import analytics as AN

    docs = tables.load(spark, sf_dir, "documents")
    vals = docs.select(
        "doc_id",
        "source",
        TX.token_count("text").cast("long").alias("ntok"),
    )
    return AN.poisson_bootstrap_ci(
        vals, "source", "ntok", id_col="doc_id", b=200, alpha=0.05
    )


def q_detector_agreement(spark, sf_dir):
    """Pairwise agreement matrix between the four oracle-exact near-dup
    detectors (dedup.detector_agreement): Jaccard of the pair SETS
    found by exact n-gram Jaccard (0.6), overlap coefficient (0.8,
    df≤64), Broder containment (0.6), and winnowing substring pairs —
    the redundant-vs-complementary audit behind union_pair_edges.
    Detector configs match the declared dedup_* queries EXACTLY, so the
    oracle composes those four oracle strings verbatim (the ivf_recall
    one-source-of-truth discipline)."""
    docs = tables.load(spark, sf_dir, "documents")
    ranks = D.shingle_ranks(docs, n=3)
    return D.detector_agreement(
        {
            "jaccard": D.ngram_jaccard_pairs_from_ranks(ranks, threshold=0.6),
            "overlap": D.overlap_coefficient_pairs_from_ranks(
                ranks, threshold=0.8, max_df=64
            ),
            "containment": D.containment_pairs_from_ranks(
                ranks, threshold=0.6
            ),
            "substring": D.substring_dup_pairs(
                docs, k=16, w=8, min_shared=2, hash_fn="md5"
            ).select(
                F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
            ),
        }
    )


def q_conformal_score(spark, sf_dir):
    """Per-source split-conformal threshold of the classifier score
    (analytics.conformal_threshold, α=0.1 — Vovk et al. 2005): the
    score each source's docs stay under with ≥90% finite-sample
    guarantee, i.e. the distribution-free calibrated cutoff a quality
    gate should use instead of an eyeballed constant.  Rank =
    ⌈(n+1)·0.9⌉ in exact integer arithmetic; q̂ an exact order
    statistic; NULL (never a clamp) when the group is too small for
    the guarantee.  Oracle reuses the shared sc0 classifier-score CTE
    (bias 0.1, the gate-family convention)."""
    from streamkit_spark.functions import analytics as AN
    from streamkit_spark.functions import curation as C
    from streamkit_spark.functions.util import spread

    docs = tables.load(spark, sf_dir, "documents")
    # spread the single-file corpus before the per-token scoring fold
    # (the classifier_gate_table one-core lesson); values unchanged
    scored = C.quality_classifier_score(spread(docs), bias=0.1).select(
        "doc_id", "score"
    )
    j = scored.join(docs.select("doc_id", "source"), "doc_id")
    return AN.conformal_threshold(j, "source", "score", alpha=0.1)


def q_kn_logprob(spark, sf_dir):
    """Per-doc mean bigram log-probability under interpolated
    KNESER-NEY smoothing (curation.kn_bigram_logprob, d=0.75 — Chen &
    Goodman 1999 eq. 4.25): the KenLM-perplexity-filter shape CCNet
    curation actually runs, where a word's back-off mass is its
    distinct-context novelty N1+(·,w), not its raw frequency.  Every
    count exact, each ln(P) a fixed double expression, and the per-doc
    sum folds in POSITION order (the r3 fold-parity family) — stricter
    than the elder logprob ops' unordered avg."""
    from streamkit_spark.functions import curation as C

    docs = tables.load(spark, sf_dir, "documents")
    return C.kn_bigram_logprob(docs)


def q_cluster_modularity(spark, sf_dir):
    """Newman modularity audit (similarity.cluster_modularity) of the
    mutual-kNN components against the FULL undirected kNN graph
    (k=3 brute — the semantic_clusters substrate): per cluster,
    Q_c = e_c/m − (D_c/2m)², computed as one double division of exact
    integers.  Components are perfectly intra on their own mutual
    edges; judging them on the denser kNN graph measures how much of
    the neighborhood structure the partition actually explains.  The
    kNN edge table is checkpointed — it feeds both the mutual-pair
    symmetrization and the edge set (the derived-table hazard)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    knn = (
        SIM.knn_graph(emb, k=3, method="brute")
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    clusters = D.duplicate_clusters(SIM.mutual_knn_pairs(knn))
    return SIM.cluster_modularity(
        knn,
        clusters,
        edge_a="src",
        edge_b="dst",
        node_col="doc_id",
        cluster_col="cluster_id",
    )


def q_curation_funnel(spark, sf_dir):
    """Per-stage attrition of the curation pipeline
    (pipeline.curation_funnel, exact-pair config): how many docs
    survive input → exact dedup → near dedup → quality, with
    n_dropped/drop_pct against the previous stage — the "why did my
    corpus shrink?" observability rows.  Stage frames come from the
    SAME _curate_stages definition curate() executes.  Oracle: the
    curation_report CTE chain (shared _CURATION_STAGES_CTE) with one
    count per stage + the identical lag arithmetic."""
    from streamkit_spark.pipeline import CurationConfig, curation_funnel

    docs = tables.load(spark, sf_dir, "documents")
    return curation_funnel(docs, CurationConfig(use_lsh=False))


def q_vocab_coverage(spark, sf_dir):
    """Per-source vocabulary coverage curve (text.coverage_by_group,
    the token-cell sketch's 7th report): how many top-ranked token
    TYPES cover 50/90/99% of each source's token occurrences — the
    head-heaviness readout that sizes tokenizer vocabularies and
    explains OOV rates.  Exact integer rank/cumsum arithmetic with the
    (count DESC, token ASC) total tie-break; the threshold compare is
    cum·100 ≥ pct·n, never a float ceil."""
    from streamkit_spark.functions import text as TX

    docs = tables.load(spark, sf_dir, "documents")
    return TX.coverage_by_group(docs, "source", "text")


def q_memorization_risk(spark, sf_dir):
    """Per-document memorization-risk exposure
    (dedup.substring_exposure): for every doc in at least one
    winnowing pair (Lee et al. 2022 ExactSubstr semantics, k=16 w=8
    min_shared=2), the number of partner docs sharing long verbatim
    substrings and the total fingerprint agreements — the ranking a
    regurgitation audit acts on.  hash_fn='md5' pins DuckDB parity
    (the dedup_substring convention; production runs xxhash64)."""
    docs = tables.load(spark, sf_dir, "documents")
    return D.substring_exposure(docs, hash_fn="md5")


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary at sf0.001."""
    return q_tpch_q1_pricing_summary(spark, "/root/testdata/sf0.001")


# The correctness driver checks the FIRST 50 queries() entries (insertion
# order).  Names listed here are moved to the front; everything else keeps
# its literal order below.  Round-12 window (VERDICT r11 item #7, per the
# CLAUDE.md rotation ledger): the 12 never-driver-checked r11-build adds,
# then the 22 remaining r7-era entries, then the 16 oldest r4-era entries
# (driver rows last seen r8) = 50.
_DRIVER_WINDOW_FRONT = [
    # --- never driver-checked: round-11 build adds ---
    "pq_recall",
    "ivfadc_recall",
    "bm25_search",
    "classifier_ap",
    "jt_trend",
    "minhash_fidelity",
    "knn_assortativity",
    "hybrid_search",
    "km_conversion",
    "ql_search",
    "log_odds_tokens",
    "token_diversity",
    # --- 22 remaining r7-era entries (driver rows last seen r7) ---
    "ngram_novelty",
    "perplexity_buckets",
    "quantile_report",
    "retention_cohorts",
    "rolling_activity",
    "value_histogram",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "approx_distinct",
    "array_funcs",
    "bigram_logprob",
    "binary_payload_stats",
    "bpe_fertility",
    "capped_per_source",
    "char_ngram_count",
    "column_stats",
    "contamination",
    "corr_stats",
    "curation_report",
    "customers_without_orders",
    "date_funcs",
    "decontaminated",
    # --- 16 oldest r4-era entries (driver rows last seen r8) ---
    "dedup_clusters",
    "dedup_overlap",
    "dedup_substring",
    "dedup_substring_fast_recall",
    "dedup_substring_maxdf",
    "doc_chunks",
    "doc_quality",
    "dsir_weights",
    "embedding_covariance",
    "embedding_near_dups",
    "embedding_norms",
    "key_skew",
    "lang_id_confusion",
    "math_funcs",
    "median_quantity",
    "mixing_plan",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _declared_queries()
    front = {k: base[k] for k in _DRIVER_WINDOW_FRONT}
    rest = {k: v for k, v in base.items() if k not in front}
    return {**front, **rest}


def _declared_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- round-2 ops not yet driver-verified (VERDICT r2 item #1) ---
        "dedup_substring": q_dedup_substring,
        "dedup_substring_maxdf": q_dedup_substring_maxdf,
        "dedup_substring_fast_recall": q_dedup_substring_fast_recall,
        "semantic_dedup": q_semantic_dedup,
        "dsir_weights": q_dsir_weights,
        "dedup_clusters": q_dedup_clusters,
        "decontaminated": q_decontaminated,
        "temperature_sample": q_temperature_sample,
        "pack_sequences": q_pack_sequences,
        "repetition_stats": q_repetition_stats,
        "quality_rules": q_quality_rules,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_topk_lsh": q_ann_topk_lsh,
        "contamination": q_contamination,
        "stratified_sample": q_stratified_sample,
        "mixing_plan": q_mixing_plan,
        "unigram_logprob": q_unigram_logprob,
        "pii_report": q_pii_report,
        "array_funcs": q_array_funcs,
        "binary_payload_stats": q_binary_payload_stats,
        "vocab_spectrum": q_vocab_spectrum,
        "curation_report": q_curation_report,
        "doc_chunks": q_doc_chunks,
        "top_tokens_per_lang": q_top_tokens_per_lang,
        "doc_quality": q_doc_quality,
        "char_ngram_count": q_char_ngram_count,
        "corr_stats": q_corr_stats,
        "customers_without_orders": q_customers_without_orders,
        "orders_above_avg": q_orders_above_avg,
        "approx_distinct": q_approx_distinct,
        "string_funcs": q_string_funcs,
        "date_funcs": q_date_funcs,
        "math_funcs": q_math_funcs,
        "median_quantity": q_median_quantity,
        "lang_id_confusion": q_lang_id_confusion,
        "embedding_norms": q_embedding_norms,
        # --- new in round 3 (keep inside the 50-entry driver window) ---
        "dedup_overlap": q_dedup_overlap,
        "ngram_novelty": q_ngram_novelty,
        "dsir_topk": q_dsir_topk,
        "embedding_quantization": q_embedding_quantization,
        "rolling_activity": q_rolling_activity,
        "event_funnel": q_event_funnel,
        "perplexity_buckets": q_perplexity_buckets,
        "kmeans_assign": q_kmeans_assign,
        "bloom_prefilter": q_bloom_prefilter,
        "quantile_report": q_quantile_report,
        "event_transitions": q_event_transitions,
        "retention_cohorts": q_retention_cohorts,
        "value_histogram": q_value_histogram,
        "iqr_outliers": q_iqr_outliers,
        # --- locally verified, rotate into the driver window in r4 ---
        "zorder_stats": q_zorder_stats,
        "capped_per_source": q_capped_per_source,
        "pmi_top_pairs": q_pmi_top_pairs,
        "llr_top_pairs": q_llr_top_pairs,
        "bigram_logprob": q_bigram_logprob,
        "embedding_covariance": q_embedding_covariance,
        "split_assignment": q_split_assignment,
        "leakage_safe_split": q_leakage_safe_split,
        "split_leakage": q_split_leakage,
        "weighted_sample": q_weighted_sample,
        "column_stats": q_column_stats,
        "key_skew": q_key_skew,
        "source_balance": q_source_balance,
        "weekly_growth": q_weekly_growth,
        # iterative (driver-coordinated loop) — rows-only by design
        "bpe_fertility": q_bpe_fertility,
        # --- new in round 5 (snapshot-commit trio, now verified) ---
        "gap_filled_daily": q_gap_filled_daily,
        "gap_filled_ffill": q_gap_filled_ffill,
        "transition_matrix": q_transition_matrix,
        "event_pagerank": q_event_pagerank,
        # --- locally verified, rotate into the driver window in r6 ---
        "tfidf_cosine": q_tfidf_cosine,
        "doc_length_deciles": q_doc_length_deciles,
        "asof_next_view": q_asof_next_view,
        "user_accumulation": q_user_accumulation,
        "salted_brand_revenue": q_salted_brand_revenue,
        "ewma_daily": q_ewma_daily,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "quality_classifier": q_quality_classifier,
        "boilerplate_blocks": q_boilerplate_blocks,
        "dedup_editdist": q_dedup_editdist,
        "random_projection": q_random_projection,
        "knn_graph": q_knn_graph,
        "mutual_knn": q_mutual_knn,
        "compaction_bins": q_compaction_bins,
        "ab_value_ztest": q_ab_value_ztest,
        "label_propagation": q_label_propagation,
        "window_funcs": q_window_funcs,
        "frequent_sequences": q_frequent_sequences,
        "token_entropy": q_token_entropy,
        "ivfadc_topk": q_ivfadc_topk,
        "hll_distinct": q_hll_distinct,
        "triangle_count": q_triangle_count,
        "kmv_overlap": q_kmv_overlap,
        "semantic_clusters": q_semantic_clusters,
        "cms_user_counts": q_cms_user_counts,
        "mixture_plan": q_mixture_plan,
        "apply_mixture": q_apply_mixture,
        "funnel_timing": q_funnel_timing,
        "hll_daily_range": q_hll_daily_range,
        "spearman_corr": q_spearman_corr,
        "chi2_weekday": q_chi2_weekday,
        "mad_outliers": q_mad_outliers,
        "kcore_knn": q_kcore_knn,
        "cube_revenue": q_cube_revenue,
        "value_trend": q_value_trend,
        "source_ngram_overlap": q_source_ngram_overlap,
        "attribution_linear": q_attribution_linear,
        "zipf_shingles": q_zipf_shingles,
        "weekday_seasonality": q_weekday_seasonality,
        "cusum_changepoint": q_cusum_changepoint,
        "dup_rate_by_source": q_dup_rate_by_source,
        "benford_values": q_benford_values,
        "heaps_docs": q_heaps_docs,
        "hist_quantiles": q_hist_quantiles,
        "event_assoc": q_event_assoc,
        "psi_drift": q_psi_drift,
        # --- new in round 6: locally verified, rotate into the driver
        # window in r7 (see the CLAUDE.md rotation ledger) ---
        "ranksum_value": q_ranksum_value,
        "cliffs_value": q_cliffs_value,
        "ad_value": q_ad_value,
        "cvm_value": q_cvm_value,
        "ks_daily": q_ks_daily,
        "cramers_weekday": q_cramers_weekday,
        "mi_weekday": q_mi_weekday,
        "theil_value": q_theil_value,
        "weekday_outliers": q_weekday_outliers,
        "ks_value": q_ks_value,
        "gini_value": q_gini_value,
        "winsorized_value": q_winsorized_value,
        "kendall_value_hour": q_kendall_value_hour,
        "kendall_exact": q_kendall_exact,
        "kl_sources": q_kl_sources,
        "psi_daily": q_psi_daily,
        "seasonal_strength": q_seasonal_strength,
        "acf_daily": q_acf_daily,
        "wilson_high_value": q_wilson_high_value,
        "jsd_sources": q_jsd_sources,
        "xcorr_daily": q_xcorr_daily,
        "token_burstiness": q_token_burstiness,
        "interarrival": q_interarrival,
        "robust_trend": q_robust_trend,
        "holt_daily": q_holt_daily,
        "score_calibration": q_score_calibration,
        "dedup_sweep": q_dedup_sweep,
        "classifier_auc": q_classifier_auc,
        "classifier_ap": q_classifier_ap,
        # --- verified green in rounds 1-2 (CORRECTNESS_r01/r02) ---
        "s1_consume_segment": q_s1_consume_segment,
        "s1_tail_window": q_s1_tail_window,
        "s2_consume_space": q_s2_consume_space,
        "s2_cursor_resume": q_s2_cursor_resume,
        "s3_consume_merge": q_s3_consume_merge,
        "s4_peek": q_s4_peek,
        "w1_peek_all": q_w1_peek_all,
        "a1_segment_status": q_a1_segment_status,
        "a2_spaces": q_a2_spaces,
        "a2_segments": q_a2_segments,
        "f2_ts_filter_count": q_f2_ts_filter_count,
        "w2_sequence_gaps": q_w2_sequence_gaps,
        "w3_first_entry": q_w3_first_entry,
        "x3_json_extract": q_x3_json_extract,
        "f5_validation_count": q_f5_validation_count,
        "tpch_q1_pricing_summary": q_tpch_q1_pricing_summary,
        "tpch_q3_shipping_priority": q_tpch_q3_shipping_priority,
        "tpch_q5_region_revenue": q_tpch_q5_region_revenue,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "monthly_revenue": q_monthly_revenue,
        "part_brand_stats": q_part_brand_stats,
        "tpch_q6_forecast_revenue": q_tpch_q6_forecast_revenue,
        "tpch_q4_order_priority": q_tpch_q4_order_priority,
        "tpch_q10_returned_items": q_tpch_q10_returned_items,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "tpch_q19_disjunctive": q_tpch_q19_disjunctive,
        "tpch_q14_promo_share": q_tpch_q14_promo_share,
        "tpch_q7_nation_volume": q_tpch_q7_nation_volume,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "tpch_q13_order_distribution": q_tpch_q13_order_distribution,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "tpch_q17_small_quantity": q_tpch_q17_small_quantity,
        "dedup_exact_groups": q_dedup_exact_groups,
        "doc_fingerprints": q_doc_fingerprints,
        "doc_token_stats": q_doc_token_stats,
        "lang_summary": q_lang_summary,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "ann_topk_bruteforce": q_ann_topk_bruteforce,
        "asof_purchase_click": q_asof_purchase_click,
        "range_join_nearby": q_range_join_nearby,
        "session_stats": q_session_stats,
        "tumbling_daily": q_tumbling_daily,
        "set_click_no_purchase": q_set_click_no_purchase,
        "set_click_and_purchase": q_set_click_and_purchase,
        "rollup_event_counts": q_rollup_event_counts,
        "pivot_user_events": q_pivot_user_events,
        "label_centroids": q_label_centroids,
        "tfidf_top_terms": q_tfidf_top_terms,
        # --- new in round 8: locally verified, rotate into the driver
        # window in r9 (see the CLAUDE.md rotation ledger) ---
        "benford_value": q_benford_value,
        "kendall_matrix": q_kendall_matrix,
        "gate_kappa": q_gate_kappa,
        "calibration_ece": q_calibration_ece,
        "calibration_brier": q_calibration_brier,
        "hill_tail": q_hill_tail,
        "user_novelty": q_user_novelty,
        "embedding_drift": q_embedding_drift,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "rbo_sources": q_rbo_sources,
        "oov_rates": q_oov_rates,
        "burrows_delta": q_burrows_delta,
        "dedup_containment": q_dedup_containment,
        # --- round-9 ops (queued for the r10 driver window) ---
        "containment_split": q_containment_split,
        "source_dup_matrix": q_source_dup_matrix,
        "effective_tokens": q_effective_tokens,
        "memorization_risk": q_memorization_risk,
        "vocab_coverage": q_vocab_coverage,
        "curation_funnel": q_curation_funnel,
        "ivf_recall": q_ivf_recall,
        "lsh_recall": q_lsh_recall,
        "pq_recall": q_pq_recall,
        "ivfadc_recall": q_ivfadc_recall,
        "bm25_search": q_bm25_search,
        "jt_trend": q_jt_trend,
        "minhash_fidelity": q_minhash_fidelity,
        "knn_assortativity": q_knn_assortativity,
        "hybrid_search": q_hybrid_search,
        "km_conversion": q_km_conversion,
        "ql_search": q_ql_search,
        "log_odds_tokens": q_log_odds_tokens,
        "token_diversity": q_token_diversity,
        "bootstrap_token_ci": q_bootstrap_token_ci,
        "detector_agreement": q_detector_agreement,
        "cluster_modularity": q_cluster_modularity,
        "kn_logprob": q_kn_logprob,
        "conformal_score": q_conformal_score,
    }


def _shingle_cp_cte() -> str:
    """The toks/sh/sizes/cp CTE prefix shared by EVERY exact-shingle
    pair oracle (dedup_containment, containment_split,
    source_dup_matrix, and via :func:`_shingle_pair_cte` the whole
    closure family) — ONE tokenization/shingling definition, so a
    tokenization tweak can't silently fork a hand-copied block (the r7
    _closure_cte extraction discipline)."""
    return r"""toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1
        ), cp AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )"""


def _shingle_pair_cte(jp_where: str) -> str:
    """:func:`_shingle_cp_cte` plus the qualifying-pair CTE ``jp`` —
    the pair predicate is the ONLY variation between the exact-pair
    oracles (jaccard 0.6 for the closure family, jaccard 0.5 for
    source_dup_matrix, jaccard-OR-containment for containment_split)."""
    return f"""{_shingle_cp_cte()}, jp AS (
            SELECT id_a, id_b
            FROM cp
            JOIN sizes s1 ON id_a = s1.doc_id
            JOIN sizes s2 ON id_b = s2.doc_id
            WHERE {jp_where}
        )"""


# winnowing fingerprint table (k=16, w=8) + qualifying-pair select —
# shared verbatim by dedup_substring and memorization_risk (mirrors
# dedup.winnow_fingerprints exactly; grams at 1-based pos 1..max(len-15,
# 1); window start positions 1..max(ng-8, 0)+1, each the min gram hash
# of the w following rows)
_WINNOW_FP_CTE = """g AS (
            SELECT doc_id, i AS pos,
                   md5(substr(lower(text), i, 16)) AS h,
                   greatest(length(lower(text)) - 15, 1) AS ng
            FROM documents,
                 unnest(generate_series(1,
                        greatest(length(lower(text)) - 15, 1))) AS u(i)
        ), wm AS (
            SELECT doc_id, pos, ng,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
            FROM g
        ), fp AS (
            SELECT DISTINCT doc_id, fp FROM wm
            WHERE pos <= greatest(ng - 8, 0) + 1
        )"""

_WINNOW_PAIRS_SELECT = """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 2"""

# The default-config curation pipeline's stage CTE chain (exact dedup →
# exact-jaccard-0.8 near-dedup → quality scoring) — shared by the
# curation_report and curation_funnel oracles so the funnel can't drift
# from the report (mirrors pipeline._curate_stages with use_lsh=False).
# NOTE: plain (non-raw) string — the md5 normalization regex contains
# REAL tab/newline characters by design.
_CURATION_STAGES_CTE = """dedup AS (
            SELECT doc_id, text, lang FROM (
                SELECT doc_id, text, lang,
                       row_number() OVER (
                           PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n]', '', 'g'), '[ \t\n]+', ' ', 'g')))
                           ORDER BY doc_id) AS rn
                FROM documents)
            WHERE rn = 1
        ), toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
            FROM dedup
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), near AS (
            SELECT DISTINCT id_b FROM pairs
            JOIN sizes s1 ON id_a = s1.doc_id
            JOIN sizes s2 ON id_b = s2.doc_id
            WHERE inter::DOUBLE / (s1.n + s2.n - inter) >= 0.8
        ), kept AS (
            SELECT * FROM dedup WHERE doc_id NOT IN (SELECT id_b FROM near)
        ), scored AS (
            SELECT lang,
                   round(least(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) / 100.0, 1.0) * 0.3
                         + (CASE WHEN (list_sum(list_apply(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), t -> length(t)))::DOUBLE
                                       / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) BETWEEN 3 AND 10
                                 THEN 1.0 ELSE 0.5 END) * 0.2
                         + least((len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                                       t -> list_contains(['the','a','of','and','to','in','is','on','for','with','as','at'], lower(t))))::DOUBLE
                                  / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) * 4, 1.0) * 0.3
                         + greatest(1.0 - ((length(text) - length(regexp_replace(text,
                                       '[^\\w \\t\\n]', '', 'g')))::DOUBLE
                                    / length(text)) * 4, 0.0) * 0.2, 4) AS quality,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
            FROM kept
        )"""


def oracle_sql() -> dict[str, str]:
    sql = {}
    sql["s1_consume_segment"] = f"""
        SELECT {_EV_OUT_SQL} FROM events
        WHERE event_type='click' AND user_id=3 AND event_id BETWEEN 50 AND 5000
        ORDER BY event_id
    """
    sql["s1_tail_window"] = f"""
        SELECT {_EV_OUT_SQL} FROM events
        WHERE event_type='view' AND user_id=2 AND event_id >= 200
        ORDER BY event_id LIMIT 50
    """
    sql["s2_consume_space"] = f"""
        SELECT {_EV_OUT_SQL} FROM events
        WHERE event_type='purchase' AND epoch_ms(ts) > {TS_MIN} AND epoch_ms(ts) <= {TS_MAX}
        ORDER BY epoch_ms(ts), user_id, event_id
    """
    c_ts, c_seg, c_seq = CURSOR
    sql["s2_cursor_resume"] = f"""
        SELECT {_EV_OUT_SQL} FROM events
        WHERE event_type='purchase' AND (
            epoch_ms(ts) > {c_ts}
            OR (epoch_ms(ts) = {c_ts} AND CAST(user_id AS VARCHAR) > '{c_seg}')
            OR (epoch_ms(ts) = {c_ts} AND CAST(user_id AS VARCHAR) = '{c_seg}' AND event_id > {c_seq})
        )
        ORDER BY epoch_ms(ts), user_id, event_id
    """
    c2_ts, c2_seg, c2_seq = CURSOR2
    sql["s3_consume_merge"] = f"""
        SELECT {_EV_OUT_SQL} FROM events
        WHERE epoch_ms(ts) <= {TS_MAX} AND (
            (event_type='click' AND (
                epoch_ms(ts) > {c2_ts}
                OR (epoch_ms(ts) = {c2_ts} AND CAST(user_id AS VARCHAR) > '{c2_seg}')
                OR (epoch_ms(ts) = {c2_ts} AND CAST(user_id AS VARCHAR) = '{c2_seg}' AND event_id > {c2_seq})
            ))
            OR event_type='view'
        )
        ORDER BY epoch_ms(ts), event_type, user_id, event_id LIMIT 500
    """
    sql["s4_peek"] = f"""
        SELECT {_EV_OUT_SQL} FROM events
        WHERE event_type='error' AND user_id=5
        ORDER BY event_id DESC LIMIT 1
    """
    sql["w1_peek_all"] = """
        SELECT event_type AS space, user_id AS segment, event_id AS sequence,
               epoch_ms(ts) AS ts_ms, value
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type, user_id
                                           ORDER BY event_id DESC) AS rn FROM events)
        WHERE rn = 1 ORDER BY space, segment
    """
    sql["a1_segment_status"] = """
        SELECT event_type AS space, user_id AS segment,
               min(event_id) AS first_sequence,
               arg_min(epoch_ms(ts), event_id) AS first_ts,
               max(event_id) AS last_sequence,
               arg_max(epoch_ms(ts), event_id) AS last_ts
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["a2_spaces"] = "SELECT DISTINCT event_type AS space FROM events ORDER BY 1"
    sql["a2_segments"] = """
        SELECT DISTINCT user_id AS segment FROM events
        WHERE event_type='signup' ORDER BY 1
    """
    sql["f2_ts_filter_count"] = f"""
        SELECT count(*) AS n FROM events
        WHERE event_type='error' AND epoch_ms(ts) > {TS_MIN} AND epoch_ms(ts) <= {TS_MAX}
    """
    sql["w2_sequence_gaps"] = """
        SELECT space, segment, count(*) AS n, max(d) AS max_gap, min(d) AS min_gap
        FROM (SELECT event_type AS space, user_id AS segment,
                     event_id - lag(event_id) OVER (PARTITION BY event_type, user_id
                                                    ORDER BY event_id) AS d
              FROM events)
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["w3_first_entry"] = """
        SELECT event_type AS space, user_id AS segment,
               arg_min(epoch_ms(ts), event_id) AS first_ts
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["x3_json_extract"] = """
        SELECT json_extract_string(props, '$.k') AS k_val, count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """
    sql["f5_validation_count"] = """
        SELECT count(*) AS n_total,
               CAST(sum(CASE WHEN props IS NULL OR value IS NULL
                             OR event_type = '' OR event_id IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
        FROM events
    """
    sql["tpch_q1_pricing_summary"] = """
        WITH d AS (
            SELECT l_returnflag, l_linestatus, l_shipdate,
                   CAST(l_quantity AS DECIMAL(18,2)) AS qty,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
                   CAST(l_discount AS DECIMAL(18,2)) AS disc,
                   CAST(l_tax AS DECIMAL(18,2)) AS tax
            FROM lineitem)
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(qty) AS DOUBLE), 4) AS sum_qty,
               round(CAST(sum(price) AS DOUBLE), 4) AS sum_base_price,
               round(CAST(sum(price * (1 - disc)) AS DOUBLE), 4) AS sum_disc_price,
               round(CAST(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE), 4) AS sum_charge,
               round(CAST(sum(qty) AS DOUBLE) / count(*), 4) AS avg_qty,
               round(CAST(sum(price) AS DOUBLE) / count(*), 4) AS avg_price,
               round(CAST(sum(disc) AS DOUBLE) / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM d
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """
    sql["tpch_q3_shipping_priority"] = """
        SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                     4) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """
    sql["tpch_q5_region_revenue"] = """
        SELECT n_name,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                     4) AS revenue,
               count(*) AS n_items
        FROM lineitem, orders, customer, supplier, nation, region
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        GROUP BY n_name ORDER BY n_name
    """
    sql["topk_orders_per_customer"] = """
        SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders)
        WHERE rank <= 3 ORDER BY o_custkey, rank
    """
    sql["monthly_revenue"] = """
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders GROUP BY 1 ORDER BY 1
    """
    sql["part_brand_stats"] = """
        SELECT p_brand, count(*) AS n_parts,
               round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                     / count(*), 4) AS avg_price,
               count(DISTINCT p_type) AS n_types,
               max(p_size) AS max_size
        FROM part GROUP BY 1 ORDER BY 1
    """
    _norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \\t\\n]', '', 'g'),"
        " '[ \\t\\n]+', ' ', 'g'))"
    )
    sql["dedup_exact_groups"] = f"""
        SELECT md5({_norm}) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id % 40 = 0
        ) GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
    """
    sql["doc_fingerprints"] = f"""
        SELECT doc_id, md5({_norm}) AS fp FROM documents
        WHERE doc_id < 100 ORDER BY doc_id
    """
    _toks = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    _stop = "['the','a','of','and','to','in','is','on','for','with','as','at']"
    sql["doc_token_stats"] = f"""
        SELECT doc_id,
               CAST(len({_toks}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS len_chars,
               round(list_sum(list_apply({_toks}, t -> length(t)))::DOUBLE
                     / len({_toks}), 4) AS avg_token_len,
               round(len(list_filter({_toks}, t -> list_contains({_stop}, lower(t))))::DOUBLE
                     / len({_toks}), 4) AS stopword_ratio
        FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """
    sql["lang_summary"] = """
        SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY 1 ORDER BY 1
    """
    sql["dedup_ngram_jaccard"] = """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter::DOUBLE / (s1.n + s2.n - inter), 4) AS jaccard
        FROM pairs
        JOIN sizes s1 ON id_a = s1.doc_id
        JOIN sizes s2 ON id_b = s2.doc_id
        WHERE inter::DOUBLE / (s1.n + s2.n - inter) >= 0.6
        ORDER BY id_a, id_b
    """
    sql["ann_topk_bruteforce"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4) AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 5
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    sql["embedding_norms"] = """
        SELECT vec_id,
               round(sqrt(list_sum(list_apply(embedding,
                                              x -> CAST(x AS DOUBLE) * x))), 4) AS l2,
               CAST(len(embedding) AS BIGINT) AS dim, label
        FROM embeddings WHERE vec_id < 100 ORDER BY vec_id
    """
    sql["embedding_near_dups"] = """
        WITH base AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), planted AS (
            -- mirror of the Spark-side plant: +0.05 on coordinate 0
            SELECT vec_id + 1000000 AS vec_id,
                   list_apply(list_zip(e, range(1, len(e) + 1)),
                              p -> CASE WHEN p[2] = 1 THEN p[1] + 0.05
                                   ELSE p[1] END) AS e
            FROM base WHERE vec_id % 40 = 0
        ), v AS (
            SELECT * FROM base UNION ALL SELECT * FROM planted
        )
        SELECT id_a, id_b, cos FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_sum(list_apply(list_zip(a.e, b.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(a.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(b.e, x -> x * x)))), 4) AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id)
        WHERE cos >= 0.95
        ORDER BY id_a, id_b
    """
    sql["asof_purchase_click"] = """
        WITH base AS (
            SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
        )
        SELECT p.event_id, p.user_id, p.ts_ms,
               c.ts_ms AS last_click_ts, c.event_id AS last_click_event
        FROM (SELECT * FROM base WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM base WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
        ORDER BY p.event_id
    """
    sql["asof_next_view"] = """
        WITH base AS (
            SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
            FROM events
        )
        SELECT p.event_id, p.user_id, p.ts_ms,
               CASE WHEN v.ts_ms <= p.ts_ms + 1800000
                    THEN v.ts_ms END AS next_view_ts,
               CASE WHEN v.ts_ms <= p.ts_ms + 1800000
                    THEN v.event_id END AS next_view_event
        FROM (SELECT * FROM base WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM base WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts_ms <= v.ts_ms
        ORDER BY p.event_id
    """
    sql["range_join_nearby"] = """
        SELECT e.event_id, count(*) AS n_nearby
        FROM events e JOIN events c
          ON e.user_id = c.user_id AND c.event_type = 'click'
         AND abs(epoch_ms(e.ts) - epoch_ms(c.ts)) <= 600000
        WHERE e.event_type = 'error'
        GROUP BY 1 ORDER BY 1
    """
    sql["session_stats"] = """
        WITH gaps AS (
            SELECT user_id, epoch_ms(ts) AS ts_ms,
                   epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))
        ), tagged AS (
            SELECT user_id, ts_ms,
                   sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts_ms
                             ROWS UNBOUNDED PRECEDING) AS session_id
            FROM gaps
        ), per_session AS (
            SELECT user_id, session_id, count(*) AS n_events,
                   max(ts_ms) - min(ts_ms) AS span
            FROM tagged GROUP BY 1, 2
        )
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               max(span) AS longest_session_ms
        FROM per_session GROUP BY 1 ORDER BY 1
    """
    sql["tumbling_daily"] = """
        SELECT epoch_ms(ts) // 86400000 AS window_id, event_type,
               count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["set_click_no_purchase"] = """
        SELECT user_id, day_id FROM (
            SELECT user_id, epoch_ms(ts) // 86400000 AS day_id
            FROM events WHERE event_type='click'
            EXCEPT
            SELECT user_id, epoch_ms(ts) // 86400000 AS day_id
            FROM events WHERE event_type='purchase'
        ) ORDER BY user_id, day_id
    """
    sql["set_click_and_purchase"] = """
        SELECT user_id FROM events WHERE event_type='click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type='purchase'
        ORDER BY user_id
    """
    sql["rollup_event_counts"] = """
        SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n
        FROM events GROUP BY ROLLUP (event_type) ORDER BY 1
    """
    sql["pivot_user_events"] = """
        SELECT user_id,
               CAST(count(*) FILTER (event_type='click') AS BIGINT) AS n_click,
               CAST(count(*) FILTER (event_type='error') AS BIGINT) AS n_error,
               CAST(count(*) FILTER (event_type='purchase') AS BIGINT) AS n_purchase,
               CAST(count(*) FILTER (event_type='signup') AS BIGINT) AS n_signup,
               CAST(count(*) FILTER (event_type='view') AS BIGINT) AS n_view
        FROM events WHERE user_id < 30 GROUP BY 1 ORDER BY 1
    """
    sql["string_funcs"] = """
        SELECT c_custkey,
               upper(c_name) AS uname,
               CAST(length(c_name) AS BIGINT) AS name_len,
               substr(c_name, 1, 8) AS prefix8,
               c_name || '#' || c_mktsegment AS tagged,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
               regexp_replace(c_name, '[0-9]+', 'N', 'g') AS denumbered
        FROM customer WHERE c_custkey < 100 ORDER BY c_custkey
    """
    sql["date_funcs"] = """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(day(o_orderdate) AS BIGINT) AS day,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
               strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
                        '%Y-%m-%d') AS plus30
        FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """
    sql["math_funcs"] = """
        SELECT o_orderkey,
               round(sqrt(o_totalprice), 4) AS sqrt_p,
               round(ln(o_totalprice), 4) AS ln_p,
               round(log10(o_totalprice), 4) AS log10_p,
               round(o_totalprice % 1000, 4) AS mod_1000,
               CAST(floor(o_totalprice / 1000) AS BIGINT) AS k_bucket,
               round(abs(o_totalprice - 100000), 4) AS abs_dev
        FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """
    sql["median_quantity"] = """
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.5) AS median_qty,
               round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
        FROM lineitem GROUP BY 1 ORDER BY 1
    """
    _sw = {
        "de": "['der','die','das','und','ist','von','mit','den','im','ein','zu','auf']",
        "en": "['the','a','of','and','to','in','is','on','for','with','as','at']",
        "es": "['el','la','de','y','que','en','un','una','los','por','con','para']",
        "fr": "['le','la','de','et','les','des','un','une','du','en','est','pour']",
        "zh": "['的','是','在','了','和','有','我','不','人','这','中','大']",
    }
    _score = {
        lang: (
            f"len(list_filter(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),"
            f" t -> list_contains({lst}, lower(t))))::DOUBLE"
            f" / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')), 1)"
        )
        for lang, lst in _sw.items()
    }
    sql["lang_id_confusion"] = f"""
        WITH scored AS (
            SELECT lang,
                   {_score['de']} AS s_de, {_score['en']} AS s_en,
                   {_score['es']} AS s_es, {_score['fr']} AS s_fr,
                   {_score['zh']} AS s_zh
            FROM documents
        ), pred AS (
            SELECT lang,
                   CASE
                     WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
                     WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                     WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                     WHEN s_en >= s_de THEN 'en'
                     ELSE 'de'
                   END AS predicted
            FROM scored
        )
        SELECT lang, predicted, count(*) AS n FROM pred
        GROUP BY 1, 2 ORDER BY 1, 2
    """

    _toks2 = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
    _stop2 = "['the','a','of','and','to','in','is','on','for','with','as','at']"
    sql["doc_quality"] = f"""
        WITH t AS (
            SELECT doc_id, text,
                   len({_toks2}) AS ntok,
                   list_sum(list_apply({_toks2}, t -> length(t)))::DOUBLE
                       / len({_toks2}) AS wl,
                   len(list_filter({_toks2}, t -> list_contains({_stop2}, lower(t))))::DOUBLE
                       / len({_toks2}) AS sr,
                   (length(text) - length(regexp_replace(text, '[^\\w \\t\\n]', '', 'g')))::DOUBLE
                       / length(text) AS pr
            FROM documents WHERE doc_id < 200)
        SELECT doc_id,
               round(least(ntok / 100.0, 1.0) * 0.3
                     + (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
                     + least(sr * 4, 1.0) * 0.3
                     + greatest(1.0 - pr * 4, 0.0) * 0.2, 4) AS quality,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
                    AS BIGINT) AS bpe_tokens
        FROM t ORDER BY doc_id
    """
    sql["char_ngram_count"] = """
        WITH g AS (
            SELECT doc_id, substr(lower(text), i, 5) AS cg
            FROM documents, unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS t(i)
            WHERE doc_id < 100
        )
        SELECT doc_id, count(DISTINCT cg) AS n_cgrams FROM g
        GROUP BY doc_id ORDER BY doc_id
    """
    sql["corr_stats"] = """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
               round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
        FROM lineitem GROUP BY 1 ORDER BY 1
    """
    sql["customers_without_orders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01')
        ORDER BY c_custkey
    """
    sql["orders_above_avg"] = """
        WITH t AS (
            SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
                   count(*) AS n
            FROM orders)
        SELECT o_orderkey, o_totalprice FROM orders, t
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n > total
        ORDER BY o_orderkey
    """
    sql["label_centroids"] = """
        WITH e AS (
            SELECT label, generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS v
            FROM embeddings
        ), per_pos AS (
            SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 4) AS m
            FROM e GROUP BY 1, 2
        )
        SELECT label, string_agg(printf('%.4f', m + 0.0), ',' ORDER BY pos) AS centroid
        FROM per_pos GROUP BY label ORDER BY label
    """
    sql["top_tokens_per_lang"] = """
        WITH tok AS (
            SELECT lang, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
            FROM documents
        ), counts AS (
            SELECT lang, tok, count(*) AS n FROM tok GROUP BY 1, 2
        )
        SELECT lang, tok, n, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY lang
                                         ORDER BY n DESC, tok) AS rank
            FROM counts)
        WHERE rank <= 5 ORDER BY lang, rank
    """
    sql["tfidf_top_terms"] = """
        WITH d AS (SELECT * FROM documents WHERE doc_id < 50),
        tok AS (
            SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS term
            FROM d
        ), doc_len AS (
            SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
        ), tf AS (
            SELECT doc_id, term, count(*) AS n FROM tok GROUP BY 1, 2
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   round((tf.n / doc_len.n_tok)
                         * (ln((nd.n_docs + 1.0) / (dfreq.df + 1.0)) + 1), 4) AS tfidf
            FROM tf JOIN doc_len USING (doc_id) JOIN dfreq USING (term), nd
        )
        SELECT doc_id, term, tfidf, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS rank
            FROM scored)
        WHERE rank <= 3 ORDER BY doc_id, rank
    """
    sql["curation_report"] = f"""
        WITH {_CURATION_STAGES_CTE}
        SELECT lang, count(*) AS n_docs,
               round(CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE)
                     / count(*), 4) AS avg_quality,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM scored
        WHERE quality >= 0.3 AND n_tokens >= 5
        GROUP BY lang ORDER BY lang
    """
    sql["tpch_q6_forecast_revenue"] = """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """
    sql["tpch_q4_order_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey
                AND l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    sql["tpch_q10_returned_items"] = """
        SELECT c_custkey, c_name, n_name,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                     4) AS revenue
        FROM lineitem, orders, customer, nation
        WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """
    sql["tpch_q18_large_orders"] = """
        WITH big AS (
            SELECT l_orderkey,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)
                       AS total_qty
            FROM lineitem GROUP BY 1
            HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) > 150
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_totalprice, total_qty
        FROM big, orders, customer
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """
    sql["tpch_q19_disjunctive"] = """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                     4) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_type = 'PROMO' AND p_size >= 20 AND l_quantity >= 25)
    """
    sql["tpch_q14_promo_share"] = """
        SELECT round(
                 CAST(sum(CASE WHEN p_type = 'PROMO'
                               THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                    * (1 - CAST(l_discount AS DECIMAL(18,2))) END)
                      AS DOUBLE) * 100
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                 4) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
    """
    sql["doc_chunks"] = """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
            FROM documents WHERE doc_id < 50
        ), starts AS (
            SELECT doc_id, w, i AS start,
                   CAST((i - 1) / 30 AS BIGINT) AS chunk_idx
            FROM toks, unnest(range(1, greatest(len(w) - 10, 1) + 1, 30)) AS t(i)
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(len(w[start:start+39]) AS BIGINT) AS n_tokens,
               md5(list_aggregate(w[start:start+39], 'string_agg', ' ')) AS chunk_md5
        FROM starts
        WHERE len(w[start:start+39]) > 0
        ORDER BY doc_id, chunk_idx
    """
    sql["ann_topk_ivf"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS ce
            FROM v ORDER BY vec_id LIMIT 8
        ), vc AS (
            -- assignment score = dot/norm(centroid): argmax-equivalent to
            -- cosine (1/norm(v) is a common positive factor) and mirrors
            -- the Spark side's pre-computed-centroid-norm fast path
            SELECT v.vec_id, cent.ci,
                   list_sum(list_apply(list_zip(v.e, cent.ce), p -> p[1] * p[2]))
                   / sqrt(list_sum(list_apply(cent.ce, x -> x * x))) AS s
            FROM v, cent
        ), ranked AS (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, ci DESC) AS rn
            FROM vc
        ), assign AS (
            SELECT vec_id, ci AS list_id FROM ranked WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, ci AS list_id FROM ranked
            WHERE rn <= 3 AND vec_id < 5
        ), cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a ON p.list_id = a.list_id
            WHERE p.query_id <> a.vec_id
        ), scored AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_sum(list_apply(list_zip(q.e, n.e), p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(n.e, x -> x * x)))), 4) AS cos
            FROM cand c
            JOIN v q ON c.query_id = q.vec_id
            JOIN v n ON c.neighbor_id = n.vec_id
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    # dedup_minhash_lsh: the exact-Jaccard verify over LSH candidates makes
    # the output equal the exact all-pairs computation wherever banding
    # recall holds (fixture min qualifying jaccard = 0.90 → per-pair recall
    # 1-(1-0.9^4)^16 ≈ 1-4e-8); oracle = the exact-Jaccard SQL.
    sql["dedup_minhash_lsh"] = sql["dedup_ngram_jaccard"]
    # dedup_simhash: md5-prefix token hash is byte-identical across engines;
    # pigeonhole banding is exact, so oracle = all-pairs hamming <= 3 over
    # the same fingerprints.  Bit b of the 64-bit hash = bit (b % 4) of hex
    # nibble (b // 4) of md5(token); fingerprint bit b set iff the signed
    # bit-sum over tokens is positive.  Bit 63 packs as -2^63 (DuckDB
    # raises on 1 << 63; Spark's shiftleft wraps to the same two's-
    # complement value).
    _nib = lambda b: f"(strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1)"
    _bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (({_nib(b)} >> {b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    _pack = " + ".join(
        [f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(63)]
        + ["(CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END)"]
    )
    sql["dedup_simhash"] = f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
            FROM documents WHERE length(trim(text)) > 0
        ), th AS (
            SELECT doc_id, md5(tok) AS h FROM tok
        ), bits AS (
            SELECT doc_id,
               {_bit_sums}
            FROM th GROUP BY 1
        ), fp AS (
            SELECT doc_id, CAST({_pack} AS BIGINT) AS simhash FROM bits
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY 1, 2
    """
    sql["tpch_q7_nation_volume"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                     4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    sql["tpch_q8_market_share"] = """
        WITH base AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
                   n2.n_name AS supp_nation
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region    ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
        )
        SELECT o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
        FROM base GROUP BY 1 ORDER BY 1
    """
    sql["tpch_q13_order_distribution"] = """
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
            SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY 1)
        GROUP BY 1 ORDER BY custdist DESC, c_count DESC
    """
    sql["tpch_q15_top_supplier"] = """
        WITH rev AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY 1)
        SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 4) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE r = (SELECT max(r) FROM rev)
        ORDER BY s_suppkey
    """
    sql["tpch_q17_small_quantity"] = """
        WITH per_part AS (
            SELECT l_partkey AS pp_key,
                   sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
                   count(*) AS qty_n
            FROM lineitem GROUP BY 1)
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / 7.0, 4) AS avg_yearly
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN per_part ON l_partkey = pp_key
        WHERE p_brand = 'Brand#3'
          AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum
    """
    # ---- corpus curation (functions/curation.py) ----
    from streamkit_spark.functions.curation import (
        ALL_STOPWORDS,
        sample_bucket_sql,
    )

    _sw_list = "[" + ", ".join(f"'{w}'" for w in ALL_STOPWORDS) + "]"
    _tok_cte = r"""
        tok AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE list_filter(string_split_regex(text, '\s+'), x -> x <> '') END AS t
            FROM documents
        )
    """
    sql["quality_rules"] = f"""
        WITH {_tok_cte}, base AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_words,
                   round(CASE WHEN len(t) = 0 THEN 0.0
                         ELSE CAST(list_sum(list_apply(t, x -> length(x))) AS DOUBLE) / len(t)
                         END, 4) AS mean_word_len,
                   round(CASE WHEN len(t) = 0 THEN 0.0
                         ELSE CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                         END, 4) AS frac_unique_words,
                   CAST(len(list_filter(t, x -> list_contains({_sw_list}, lower(x)))) AS BIGINT)
                       AS stopword_hits
            FROM tok
        ), bi AS (
            SELECT doc_id, len(t) AS n, t[i] || ' ' || t[i + 1] AS bigram
            FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
        ), topbg AS (
            SELECT doc_id,
                   round(CAST(2 * max(c) AS DOUBLE) / n, 4) AS top_bigram_frac
            FROM (SELECT doc_id, bigram, n, count(*) AS c FROM bi GROUP BY 1, 2, 3)
            GROUP BY doc_id, n
        )
        SELECT b.doc_id, n_words, mean_word_len, frac_unique_words, stopword_hits,
               COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
               (n_words >= 30 AND n_words <= 100000
                AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                AND frac_unique_words >= 0.30 AND stopword_hits >= 1
                AND COALESCE(top_bigram_frac, 0.0) <= 0.10) AS passes
        FROM base b LEFT JOIN topbg USING (doc_id)
        ORDER BY doc_id
    """
    sql["contamination"] = f"""
        WITH {_tok_cte}, g AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i + 3], ' ') AS gram
            FROM tok, unnest(generate_series(1, len(t) - 3)) AS u(i)
            WHERE len(t) >= 4
        ), b AS (
            SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 97 = 0
        )
        SELECT g.doc_id,
               CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_ngrams,
               CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_benchmark_docs
        FROM g JOIN b ON g.gram = b.gram AND g.doc_id <> b.bench_id
        GROUP BY 1 ORDER BY 1
    """
    # SemDeDup: same coarse quantizer as ann_topk_ivf (first-8-by-id
    # centroids, dot/norm(c) argmax with ties to the higher centroid id),
    # then exact cosine over in-cluster pairs only
    sql["semantic_dedup"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS ce
            FROM v ORDER BY vec_id LIMIT 8
        ), vc AS (
            SELECT v.vec_id, cent.ci,
                   list_sum(list_apply(list_zip(v.e, cent.ce), p -> p[1] * p[2]))
                   / sqrt(list_sum(list_apply(cent.ce, x -> x * x))) AS s
            FROM v, cent
        ), assign AS (
            SELECT vec_id, ci AS cluster FROM (
                SELECT vec_id, ci,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, ci DESC) AS rn
                FROM vc) WHERE rn = 1
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster
            FROM assign a JOIN assign b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        )
        SELECT p.id_a, p.id_b, CAST(p.cluster AS INT) AS cluster,
               round(list_sum(list_apply(list_zip(va.e, vb.e), q -> q[1] * q[2]))
                     / (sqrt(list_sum(list_apply(va.e, x -> x * x)))
                        * sqrt(list_sum(list_apply(vb.e, x -> x * x)))), 4) AS cos
        FROM pairs p
        JOIN v va ON p.id_a = va.vec_id
        JOIN v vb ON p.id_b = vb.vec_id
        WHERE round(list_sum(list_apply(list_zip(va.e, vb.e), q -> q[1] * q[2]))
                    / (sqrt(list_sum(list_apply(va.e, x -> x * x)))
                       * sqrt(list_sum(list_apply(vb.e, x -> x * x)))), 4) >= 0.35
        ORDER BY id_a, id_b
    """
    sql["decontaminated"] = f"""
        WITH {_tok_cte}, g AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i + 3], ' ') AS gram
            FROM tok, unnest(generate_series(1, len(t) - 3)) AS u(i)
            WHERE len(t) >= 4
        ), b AS (
            SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 97 = 0
        ), bad AS (
            SELECT DISTINCT g.doc_id
            FROM g JOIN b ON g.gram = b.gram AND g.doc_id <> b.bench_id
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d ANTI JOIN bad ON d.doc_id = bad.doc_id
        ORDER BY d.doc_id
    """
    # winnowing (k=16, w=8): grams at 1-based pos 1..max(len-15,1); window
    # start positions 1..max(ng-8,0)+1, each the min gram hash of the w
    # following rows — mirrors dedup.winnow_fingerprints exactly
    sql["dedup_substring"] = f"""
        WITH {_WINNOW_FP_CTE}
        {_WINNOW_PAIRS_SELECT}
        ORDER BY 1, 2
    """
    # fast-path recall: DuckDB cannot run xxhash64; the contract is the
    # hash-agnostic winnowing guarantee — every pair sharing an exact
    # >= 23-char substring must be found (missed = 0), with the ground
    # truth n_true computed independently here as a cross-check
    sql["dedup_substring_fast_recall"] = """
        WITH g AS (
            SELECT DISTINCT doc_id, substr(lower(text), i, 23) AS gram
            FROM documents,
                 unnest(generate_series(1, length(lower(text)) - 22)) AS u(i)
            WHERE length(lower(text)) >= 23
        ), p AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_true,
               CAST(0 AS BIGINT) AS missed
        FROM p
    """
    # DSIR: bigram multiset (no DISTINCT), 3-nibble md5 bucket, add-one
    # smoothed bucket models, ln ratio — mirrors curation.dsir_weights
    _nib = lambda h, i: f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    _dsir_h = "md5('dsir:' || gram)"
    _dsir_bucket = (
        f"({_nib(_dsir_h, 1)} * 256 + {_nib(_dsir_h, 2)} * 16 + {_nib(_dsir_h, 3)})"
    )
    sql["dsir_weights"] = f"""
        WITH {_tok_cte}, g AS (
            SELECT doc_id, array_to_string(t[i:i + 1], ' ') AS gram
            FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
        ), cg AS (
            SELECT doc_id, {_dsir_bucket} AS b FROM g
        ), cgb AS (
            SELECT doc_id, b, count(*) AS cnt FROM cg GROUP BY 1, 2
        ), tg AS (
            SELECT {_dsir_bucket} AS b FROM g WHERE doc_id % 97 = 0
        ), ct AS (SELECT b, count(*) AS ct FROM tg GROUP BY 1),
        cr AS (SELECT b, count(*) AS cr FROM cg GROUP BY 1),
        nt AS (SELECT count(*) AS Nt FROM tg),
        nr AS (SELECT count(*) AS Nr FROM cg)
        -- per-bucket cnt·lr terms (mirrors the engine's deterministic
        -- ascending-bucket fold; identical term values, ~40 terms/doc)
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
               round(sum(cnt * (ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                                   / CAST(Nt + 4096 AS DOUBLE))
                                - ln(CAST(cr.cr + 1 AS DOUBLE)
                                     / CAST(Nr + 4096 AS DOUBLE)))), 4) AS log_w
        FROM cgb LEFT JOIN ct ON cgb.b = ct.b
        JOIN cr ON cgb.b = cr.b, nt, nr
        GROUP BY doc_id ORDER BY doc_id
    """
    sql["dedup_substring_maxdf"] = """
        WITH g AS (
            SELECT doc_id, i AS pos,
                   md5(substr(lower(text), i, 16)) AS h,
                   greatest(length(lower(text)) - 15, 1) AS ng
            FROM documents,
                 unnest(generate_series(1,
                        greatest(length(lower(text)) - 15, 1))) AS u(i)
        ), wm AS (
            SELECT doc_id, pos, ng,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
            FROM g
        ), fp AS (
            SELECT DISTINCT doc_id, fp FROM wm
            WHERE pos <= greatest(ng - 8, 0) + 1
        ), fpc AS (
            SELECT doc_id, fp FROM (
                SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dfc
                FROM fp) WHERE dfc <= 16
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        ORDER BY 1, 2
    """
    _bucket = sample_bucket_sql("doc_id")
    sql["temperature_sample"] = f"""
        WITH c AS (
            SELECT lang AS s, CAST(count(*) AS DOUBLE) AS n
            FROM documents GROUP BY 1
        ), r AS (
            SELECT s, round(least(1.0, 400.0 * pow(n, 0.5)
                            / (SELECT sum(pow(n, 0.5)) FROM c) / n), 6) AS rate
            FROM c
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN r ON d.lang = r.s
        WHERE {_bucket} < rate * 65536.0
        ORDER BY doc_id
    """
    sql["stratified_sample"] = f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_bucket} < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                           WHEN 'zh' THEN 0.1 ELSE 0.05 END) * 65536
        ORDER BY doc_id
    """
    # weight literals mirror the Spark side bit-for-bit: python repr of
    # w/Σw, CAST to DOUBLE so DuckDB does IEEE math, not DECIMAL
    _wcase = (
        "CAST(CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.2 "
        "WHEN 'src2' THEN 0.2 ELSE 0.0 END AS DOUBLE)"
    )
    sql["mixing_plan"] = f"""
        WITH per AS (
            SELECT source, {_wcase} AS w,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) END) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY 1, 2
        )
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
               round(w, 4) AS weight,
               CAST(floor(w * 3000.0) AS BIGINT) AS target_tokens,
               round(least(1.0, CAST(floor(w * 3000.0) AS DOUBLE)
                                / CAST(greatest(n_tokens, 1) AS DOUBLE)), 4) AS rate
        FROM per ORDER BY source
    """
    sql["pack_sequences"] = f"""
        WITH {_tok_cte}, o AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS "offset"
            FROM tok
        )
        SELECT doc_id, n_tokens, "offset",
               CAST("offset" // 512 AS BIGINT) AS pack_id,
               CAST("offset" % 512 AS BIGINT) AS pack_pos,
               ("offset" % 512 + n_tokens > 512) AS straddles
        FROM o ORDER BY doc_id
    """
    sql["unigram_logprob"] = f"""
        WITH {_tok_cte}, tk AS (
            SELECT doc_id, unnest(t) AS tok FROM tok
        ), vocab AS (
            SELECT tok, count(*) AS c FROM tk GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V
            FROM vocab
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(CAST(c + 1 AS DOUBLE) / (N + V))), 4) AS logprob
        FROM tk JOIN vocab USING (tok), tot
        GROUP BY doc_id ORDER BY doc_id
    """
    from streamkit_spark.functions.curation import PII_PATTERNS

    _planted = """
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 25 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com see https://ex.org/d'
                       || CAST(doc_id AS VARCHAR)
                  ELSE '' END
               || CASE WHEN doc_id % 50 = 0
                  THEN ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                       || '.7 tel +1-555-123-4567'
                  ELSE '' END AS text
        FROM documents
    """
    _n_cols = ",\n               ".join(
        f"CAST(len(regexp_extract_all(text, '{PII_PATTERNS[k]}')) AS BIGINT) AS n_{k}"
        for k in PII_PATTERNS
    )
    _redact = "text"
    for _k in sorted(PII_PATTERNS):
        _redact = f"regexp_replace({_redact}, '{PII_PATTERNS[_k]}', '<PII>', 'g')"
    sql["pii_report"] = f"""
        WITH planted AS ({_planted})
        SELECT doc_id,
               {_n_cols},
               md5({_redact}) AS redacted_md5
        FROM planted
        WHERE len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) > 0
           OR len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) > 0
           OR len(regexp_extract_all(text, '{PII_PATTERNS["ipv4"]}')) > 0
           OR len(regexp_extract_all(text, '{PII_PATTERNS["url"]}')) > 0
        ORDER BY doc_id
    """
    # ann_topk_lsh: the hyperplanes are seeded numpy — embed them as SQL
    # literals and replicate the sign-bit bucketing in DuckDB, so even the
    # probabilistic candidate set is mirrored bit-for-bit (same left-fold
    # dot, same >= 0 sign rule, same multi-table OR).
    from streamkit_spark.functions.similarity import random_hyperplanes

    def _dot_sql(plane) -> str:
        # CAST('<repr>' AS DOUBLE): bare decimal literals parse as DECIMAL
        # and re-round — a ~1e-8 fold perturbation vs the engine's `...D`
        # doubles (measured flipping a 4dp rounding in random_projection);
        # the string cast is strtod, bit-identical to the JVM parse
        arr = (
            "[" + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in plane) + "]"
        )
        return f"list_sum(list_apply(list_zip(e, {arr}), p -> p[1] * p[2]))"

    _tables_sql = []
    for t in range(8):
        planes = random_hyperplanes(64, 4, 42 + 1000 * t)
        bits = " + ".join(
            f"(CASE WHEN {_dot_sql(planes[i])} >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(4)
        )
        _tables_sql.append(
            f"SELECT vec_id, {t} AS tbl, {bits} AS bkt FROM v"
        )
    _buckets_union = "\n            UNION ALL ".join(_tables_sql)
    sql["ann_topk_lsh"] = f"""
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), b AS (
            {_buckets_union}
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM b q JOIN b c ON q.tbl = c.tbl AND q.bkt = c.bkt
            WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        ), scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(list_sum(list_apply(list_zip(q.e, n.e), p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(n.e, x -> x * x)))), 4) AS cos
            FROM cand
            JOIN v q ON cand.query_id = q.vec_id
            JOIN v n ON cand.neighbor_id = n.vec_id
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    # The exact-Jaccard near-dup pair set + transitive closure shared by
    # FOUR oracles (dedup_clusters, dup_rate_by_source,
    # leakage_safe_split, split_leakage) — ONE copy so a change to
    # shingling/threshold/closure can't silently fork (the r6
    # raw-vs-lowercased tokenization lesson).  Same recall argument as
    # dedup_minhash_lsh.  Consumers append their own `cl` + final select.
    _closure_cte = f"""{_shingle_pair_cte(
        "inter::DOUBLE / (s1.n + s2.n - inter) >= 0.6"
    )}, edges AS (
            SELECT id_a AS a, id_b AS b FROM jp
            UNION
            SELECT id_b, id_a FROM jp
        ), reach(id, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id
        )"""
    sql["dedup_clusters"] = f"""
        WITH RECURSIVE {_closure_cte}, cl AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cl ORDER BY doc_id
    """
    # repetition_stats: Gopher-style repetition metrics; argmax tie-break
    # (count DESC, gram DESC) mirrored via row_number.
    sql["repetition_stats"] = """
        WITH toks AS (
            SELECT doc_id, length(text) AS n_chars,
                   list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
            FROM documents
        ), words AS (
            SELECT doc_id, len(w) AS n_words,
                   round(1.0 - len(list_distinct(w))::DOUBLE
                         / greatest(len(w), 1), 4) AS dup_word_frac
            FROM toks
        ), g2 AS (
            SELECT doc_id, n_chars, w[i] || ' ' || w[i+1] AS gram
            FROM toks, unnest(range(1, len(w))) AS t(i)
        ), c2 AS (
            SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2, 3
        ), t2 AS (
            SELECT doc_id, gram,
                   round(cnt * length(gram)::DOUBLE / n_chars, 4) AS frac,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram DESC) AS rn
            FROM c2
        ), g3 AS (
            SELECT doc_id, n_chars, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), c3 AS (
            SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2, 3
        ), t3 AS (
            SELECT doc_id, gram,
                   round(cnt * length(gram)::DOUBLE / n_chars, 4) AS frac,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram DESC) AS rn
            FROM c3
        )
        SELECT w.doc_id, w.n_words, w.dup_word_frac,
               coalesce(t2.gram, '') AS top_bigram,
               coalesce(t2.frac, 0.0) AS top_bigram_frac,
               coalesce(t3.gram, '') AS top_trigram,
               coalesce(t3.frac, 0.0) AS top_trigram_frac
        FROM words w
        LEFT JOIN t2 ON w.doc_id = t2.doc_id AND t2.rn = 1
        LEFT JOIN t3 ON w.doc_id = t3.doc_id AND t3.rn = 1
        ORDER BY w.doc_id
    """
    sql["array_funcs"] = """
        SELECT vec_id,
               len(embedding) AS dim,
               round(list_sum(list_transform(embedding, x -> x::DOUBLE)), 4) AS vec_sum,
               round(embedding[1]::DOUBLE, 4) AS first_coord,
               round(list_min(list_transform(embedding, x -> x::DOUBLE)), 4) AS min_coord,
               round(list_max(list_transform(embedding, x -> x::DOUBLE)), 4) AS max_coord,
               round(list_sort(list_transform(embedding, x -> x::DOUBLE), 'DESC')[2], 4)
                   AS second_largest,
               len(list_distinct(embedding)) AS n_distinct
        FROM embeddings WHERE vec_id < 100 ORDER BY vec_id
    """
    sql["vocab_spectrum"] = """
        WITH tok AS (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
            FROM documents
        ), freq AS (
            SELECT tok, count(*) AS freq FROM tok GROUP BY 1
        )
        SELECT freq, count(*) AS n_tokens FROM freq GROUP BY 1 ORDER BY 1
    """
    sql["binary_payload_stats"] = """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(octet_length(props::BLOB)) AS BIGINT) AS total_bytes,
               CAST(min(octet_length(props::BLOB)) AS BIGINT) AS min_bytes,
               CAST(max(octet_length(props::BLOB)) AS BIGINT) AS max_bytes,
               count(DISTINCT md5(props)) AS distinct_payloads
        FROM events GROUP BY event_type ORDER BY event_type
    """
    # ---- round 3 ----
    sql["dedup_overlap"] = r"""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), dfq AS (
            SELECT shingle, count(*) AS df FROM sh GROUP BY 1
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            JOIN dfq ON a.shingle = dfq.shingle
            WHERE dfq.df <= 64
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT c.id_a, c.id_b,
               round(i::DOUBLE / least(s1.n, s2.n), 4) AS overlap
        FROM cand c
        JOIN inter USING (id_a, id_b)
        JOIN sizes s1 ON c.id_a = s1.doc_id
        JOIN sizes s2 ON c.id_b = s2.doc_id
        WHERE i::DOUBLE / least(s1.n, s2.n) >= 0.8
        ORDER BY 1, 2
    """
    sql["ngram_novelty"] = r"""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), firsts AS (
            SELECT gram, min(doc_id) AS first_doc FROM sh GROUP BY 1
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS novel_grams,
               round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 4) AS novelty
        FROM sh JOIN firsts USING (gram)
        GROUP BY doc_id ORDER BY doc_id
    """
    sql["dsir_topk"] = (
        sql["dsir_weights"].rstrip().removesuffix("ORDER BY doc_id")
        + "ORDER BY log_w DESC, doc_id LIMIT 50"
    )
    sql["embedding_quantization"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), s AS (
            SELECT vec_id, e,
                   list_max(list_apply(e, x -> abs(x))) / 127 AS scale
            FROM v
        )
        SELECT vec_id, round(scale, 6) AS qscale,
               round(CASE WHEN scale = 0 THEN 0.0
                     ELSE list_sum(list_apply(
                              e, x -> abs(x - round(x / scale) * scale)))
                          / len(e) END, 6) AS mae
        FROM s ORDER BY vec_id
    """
    sql["rolling_activity"] = """
        WITH daily AS (
            SELECT user_id, epoch_ms(ts) // 86400000 AS day,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, day, n_events,
               CAST(sum(n_events) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_rolling
        FROM daily ORDER BY user_id, day
    """
    sql["event_funnel"] = """
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
        ), s0 AS (
            SELECT user_id, min(ms) AS t FROM e
            WHERE event_type = 'view' GROUP BY 1
        ), s1 AS (
            SELECT e.user_id, min(ms) AS t FROM e JOIN s0 USING (user_id)
            WHERE event_type = 'click' AND ms > s0.t GROUP BY 1
        ), s2 AS (
            SELECT e.user_id, min(ms) AS t FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'purchase' AND ms > s1.t GROUP BY 1
        )
        SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS step, 'view' AS event_type,
                   CAST(count(*) AS BIGINT) AS n_keys FROM s0
            UNION ALL
            SELECT CAST(1 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s1
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s2
        ) ORDER BY step
    """
    sql["perplexity_buckets"] = f"""
        WITH {_tok_cte}, tk AS (
            SELECT doc_id, unnest(t) AS tok FROM tok
        ), vocab AS (
            SELECT tok, count(*) AS c FROM tk GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V
            FROM vocab
        ), scores AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(ln(CAST(c + 1 AS DOUBLE) / (N + V))), 4) AS logprob
            FROM tk JOIN vocab USING (tok), tot
            GROUP BY doc_id
        ), th AS (
            SELECT quantile_cont(logprob, 0.25) AS qlo,
                   quantile_cont(logprob, 0.75) AS qhi
            FROM scores
        )
        SELECT CASE WHEN logprob >= qhi THEN 'head'
                    WHEN logprob < qlo THEN 'tail'
                    ELSE 'middle' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(CAST(sum(CAST(logprob AS DECIMAL(18,4))) AS DOUBLE)
                     / count(*), 4) AS avg_logprob
        FROM scores, th GROUP BY 1 ORDER BY 1
    """
    # approx_distinct: the HLL estimate itself is engine-specific, so the
    # Spark query reduces it to the accuracy contract (within_tol boolean
    # + the exact count) and the oracle asserts that contract.
    sql["approx_distinct"] = """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_tol
        FROM events GROUP BY event_type ORDER BY event_type
    """
    # kmeans_assign: 2 Lloyd iterations, id-order init, fold-order means
    # (list_sum over vec_id-ordered member lists == the engine's
    # array_sort+aggregate fold), assignment tie → higher centroid id.
    _asg = lambda cent: f"""
        SELECT vec_id, ci FROM (
            SELECT v.vec_id, {cent}.ci,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       list_sum(list_apply(list_zip(v.e, {cent}.ce),
                                           p -> p[1] * p[2]))
                       / sqrt(list_sum(list_apply({cent}.ce, x -> x * x)))
                       DESC, {cent}.ci DESC) AS rn
            FROM v, {cent})
        WHERE rn = 1
    """
    _upd = lambda a, c_prev: f"""
        SELECT {c_prev}.ci, COALESCE(mm.ce, {c_prev}.ce) AS ce
        FROM {c_prev} LEFT JOIN (
            SELECT ci, list(m ORDER BY pos) AS ce FROM (
                SELECT x.ci, x.pos,
                       list_sum(list(x.val ORDER BY x.vec_id)) / count(*) AS m
                FROM (
                    SELECT {a}.ci, generate_subscripts(v.e, 1) AS pos,
                           unnest(v.e) AS val, v.vec_id
                    FROM v JOIN {a} ON v.vec_id = {a}.vec_id) x
                GROUP BY x.ci, x.pos)
            GROUP BY ci) mm
        ON {c_prev}.ci = mm.ci
    """
    sql["kmeans_assign"] = f"""
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS ce
            FROM v ORDER BY vec_id LIMIT 8
        ), a0 AS ({_asg("c0")}
        ), c1 AS ({_upd("a0", "c0")}
        ), a1 AS ({_asg("c1")}
        ), c2 AS ({_upd("a1", "c1")}
        ), a2 AS ({_asg("c2")})
        SELECT vec_id, CAST(ci AS BIGINT) AS cluster
        FROM a2 ORDER BY vec_id
    """
    # bloom_prefilter: reconstruct the md5 bit-set exactly — position =
    # leading 4 hex nibbles of md5('bf:<i>:' || key), m = 65536, h = 3.
    _nib = lambda h, i: f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"

    def _bpos(key: str, i: int) -> str:
        h = f"md5('bf:{i}:' || {key})"
        return (
            f"({_nib(h, 1)} * 4096 + {_nib(h, 2)} * 256 "
            f"+ {_nib(h, 3)} * 16 + {_nib(h, 4)})"
        )

    _bits = lambda i: f"""
        SELECT DISTINCT {_bpos("CAST(c_custkey AS VARCHAR)", i)} AS pos
        FROM customer WHERE c_mktsegment = 'BUILDING'
    """
    sql["bloom_prefilter"] = f"""
        WITH bits AS ({_bits(0)} UNION {_bits(1)} UNION {_bits(2)}
        ), probe AS (
            SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders
        ), pass AS (
            SELECT CAST(count(*) AS BIGINT) AS bloom_pass FROM probe
            WHERE {_bpos("k", 0)} IN (SELECT pos FROM bits)
              AND {_bpos("k", 1)} IN (SELECT pos FROM bits)
              AND {_bpos("k", 2)} IN (SELECT pos FROM bits)
        ), exact AS (
            SELECT CAST(count(*) AS BIGINT) AS exact_pass FROM orders
            WHERE o_custkey IN (
                SELECT c_custkey FROM customer
                WHERE c_mktsegment = 'BUILDING')
        )
        SELECT bloom_pass, exact_pass,
               bloom_pass - exact_pass AS false_pos
        FROM pass, exact
    """
    sql["quantile_report"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99,
               TRUE AS approx_ok
        FROM events GROUP BY 1 ORDER BY 1
    """
    sql["event_transitions"] = """
        WITH p AS (
            SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type,
                   event_type AS next_type
            FROM events
        ), c AS (
            SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n,
               round(n / CAST(sum(n) OVER (PARTITION BY prev_type)
                              AS DOUBLE), 4) AS p
        FROM c ORDER BY prev_type, next_type
    """
    sql["retention_cohorts"] = """
        WITH active AS (
            SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
            FROM events
        ), fa AS (
            SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1
        )
        SELECT cohort_day, (day - cohort_day) // 7 AS offset_bucket,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        FROM active JOIN fa USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    sql["value_histogram"] = """
        WITH b AS (
            SELECT event_type,
                   CAST(floor(value / 50.0) AS BIGINT) AS bucket
            FROM events
        )
        SELECT event_type, bucket, round(bucket * 50.0, 4) AS lo,
               CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """
    # fence arithmetic + comparison on 4dp-ROUNDED percentiles: Spark and
    # DuckDB interpolate percentiles with a different float op order, so
    # gating the integer count on the raw fence could flip on an ulp
    sql["iqr_outliers"] = """
        WITH g AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 4) AS p25,
                   round(quantile_cont(value, 0.75), 4) AS p75
            FROM events GROUP BY 1
        ), f AS (
            SELECT event_type, p25, p75,
                   round(p75 + 1.5 * (p75 - p25), 4) AS hi_fence
            FROM g
        )
        SELECT e.event_type, f.p25, f.p75, f.hi_fence,
               CAST(count(*) AS BIGINT) AS n_outliers,
               round(max(e.value), 4) AS max_value
        FROM events e JOIN f ON e.event_type = f.event_type
        WHERE e.value > f.hi_fence
        GROUP BY 1, f.p25, f.p75, f.hi_fence
        ORDER BY 1
    """
    # zorder_stats: Morton interleave of (user_id, day) low 16 bits —
    # bit contributions are disjoint, so sum() over the bit positions is
    # the engine's aggregate-fold OR
    sql["zorder_stats"] = """
        WITH e AS (
            SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events
        ), z AS (
            SELECT user_id, day,
                   (SELECT CAST(sum(
                        ((((user_id & 65535) >> i) & 1) << (i * 2))
                        + ((((day & 65535) >> i) & 1) << (i * 2 + 1))
                    ) AS BIGINT)
                    FROM generate_series(0, 15) t(i)) AS zkey
            FROM e
        )
        SELECT zkey >> 8 AS zbucket, CAST(count(*) AS BIGINT) AS n,
               min(user_id) AS min_user_id, max(user_id) AS max_user_id,
               min(day) AS min_day, max(day) AS max_day
        FROM z GROUP BY 1 ORDER BY 1
    """
    sql["capped_per_source"] = """
        SELECT doc_id, source, cap_rank FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
                   ) AS cap_rank
            FROM documents)
        WHERE cap_rank <= 20 ORDER BY source, cap_rank
    """
    sql["pmi_top_pairs"] = f"""
        WITH {_tok_cte}, d AS (
            SELECT doc_id, list_sort(list_distinct(t)) AS t FROM tok
            WHERE len(list_distinct(t)) >= 2
        ), pairs AS (
            SELECT ua.tok AS a, ub.tok AS b
            FROM d, unnest(d.t) AS ua(tok), unnest(d.t) AS ub(tok)
            WHERE ua.tok < ub.tok
        ), pc AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
            FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5
        ), tokc AS (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS n_w
            FROM (SELECT unnest(t) AS tok FROM d) GROUP BY 1
        ), nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM d)
        SELECT a, b, n_ab,
               round(ln((CAST(n_ab AS DOUBLE) * CAST(N AS DOUBLE))
                        / (CAST(ta.n_w AS DOUBLE) * CAST(tb.n_w AS DOUBLE))),
                     4) + 0 AS pmi
        FROM pc JOIN tokc ta ON pc.a = ta.w
                JOIN tokc tb ON pc.b = tb.w, nn
        ORDER BY pmi DESC, a, b LIMIT 50
    """
    # Dunning LLR: same co-occurrence tables as PMI; the four-term sum
    # is written in the engine's exact order (k11 + k12 + k21 + k22),
    # zero cells contribute literal 0.0 via the same CASE guard.
    sql["llr_top_pairs"] = f"""
        WITH {_tok_cte}, d AS (
            SELECT doc_id, list_sort(list_distinct(t)) AS t FROM tok
            WHERE len(list_distinct(t)) >= 2
        ), pairs AS (
            SELECT ua.tok AS a, ub.tok AS b
            FROM d, unnest(d.t) AS ua(tok), unnest(d.t) AS ub(tok)
            WHERE ua.tok < ub.tok
        ), pc AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
            FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5
        ), tokc AS (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS n_w
            FROM (SELECT unnest(t) AS tok FROM d) GROUP BY 1
        ), nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM d
        ), cells AS (
            SELECT a, b, n_ab,
                   ta.n_w AS n_a, tb.n_w AS n_b, N,
                   n_ab AS k11,
                   ta.n_w - n_ab AS k12,
                   tb.n_w - n_ab AS k21,
                   N - ta.n_w - tb.n_w + n_ab AS k22
            FROM pc JOIN tokc ta ON pc.a = ta.w
                    JOIN tokc tb ON pc.b = tb.w, nn
        )
        SELECT a, b, n_ab,
               round(2 * (
                   (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE)
                        * ln(CAST(k11 AS DOUBLE) * CAST(N AS DOUBLE)
                             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                        ELSE 0.0 END)
                 + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE)
                        * ln(CAST(k12 AS DOUBLE) * CAST(N AS DOUBLE)
                             / (CAST(n_a AS DOUBLE)
                                * CAST(N - n_b AS DOUBLE)))
                        ELSE 0.0 END)
                 + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE)
                        * ln(CAST(k21 AS DOUBLE) * CAST(N AS DOUBLE)
                             / (CAST(N - n_a AS DOUBLE)
                                * CAST(n_b AS DOUBLE)))
                        ELSE 0.0 END)
                 + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE)
                        * ln(CAST(k22 AS DOUBLE) * CAST(N AS DOUBLE)
                             / (CAST(N - n_a AS DOUBLE)
                                * CAST(N - n_b AS DOUBLE)))
                        ELSE 0.0 END)
               ), 4) + 0 AS llr
        FROM cells
        ORDER BY llr DESC, a, b LIMIT 50
    """
    sql["bigram_logprob"] = f"""
        WITH {_tok_cte}, bg AS (
            SELECT doc_id, t[i] AS a, t[i + 1] AS b
            FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
        ), cab AS (
            SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2
        ), ca AS (
            SELECT a, count(*) AS c_a FROM bg GROUP BY 1
        ), vv AS (
            SELECT count(DISTINCT tok) AS V
            FROM (SELECT unnest(t) AS tok FROM tok)
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln(CAST(c_ab + 1 AS DOUBLE) / (c_a + V))), 4)
                   AS logprob
        FROM bg JOIN cab USING (a, b) JOIN ca USING (a), vv
        GROUP BY doc_id ORDER BY doc_id
    """
    # embedding_covariance: E[xy] - E[x]E[y] with every sum an id-ordered
    # left fold (list_sum over list(.. ORDER BY vec_id) == the engine's
    # array_sort+aggregate fold), arithmetic written in the same order
    sql["embedding_covariance"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v
        ), pairs AS (
            SELECT vec_id, ii.i AS i, jj.j AS j, e[ii.i] * e[jj.j] AS p
            FROM v, unnest(generate_series(1, len(e))) AS ii(i),
                    unnest(generate_series(1, len(e))) AS jj(j)
            WHERE jj.j >= ii.i
        ), sums AS (
            SELECT i, j, list_sum(list(p ORDER BY vec_id)) AS sp
            FROM pairs GROUP BY 1, 2
        ), mx AS (
            SELECT pos, list_sum(list(x ORDER BY vec_id)) AS sx
            FROM (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                         unnest(e) AS x FROM v)
            GROUP BY 1
        )
        SELECT dim_i, dim_j, cov FROM (
            SELECT s.i AS dim_i, s.j AS dim_j,
                   round(s.sp / nn.n - (mi.sx / nn.n) * (mj.sx / nn.n), 6)
                       AS cov
            FROM sums s
            JOIN mx mi ON s.i = mi.pos
            JOIN mx mj ON s.j = mj.pos, nn
            WHERE s.i < s.j)
        ORDER BY abs(cov) DESC, dim_i, dim_j LIMIT 20
    """
    # split_assignment: identical cumulative thresholds computed in the
    # same float arithmetic the engine uses
    from streamkit_spark.functions.curation import N_SAMPLE_BUCKETS
    from streamkit_spark.functions.curation import sample_bucket_sql as _sbs

    _w = {"train": 0.98, "val": 0.01, "test": 0.01}
    _tot = float(sum(_w.values()))
    _acc, _cases = 0.0, []
    for _name, _wt in list(_w.items())[:-1]:
        _acc += float(_wt) / _tot * N_SAMPLE_BUCKETS
        _cases.append(f"WHEN bucket < {_acc!r} THEN '{_name}'")
    _last = list(_w.items())[-1][0]
    sql["split_assignment"] = f"""
        SELECT doc_id,
               CASE {' '.join(_cases)} ELSE '{_last}' END AS split
        FROM (SELECT doc_id, {_sbs("doc_id", "split")} AS bucket
              FROM documents)
        ORDER BY doc_id
    """
    # leakage_safe_split: the dedup_clusters transitive closure, then
    # the identical bucket CASE keyed on the cluster representative
    sql["leakage_safe_split"] = f"""
        WITH RECURSIVE {_closure_cte}, cl AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        ), keyed AS (
            SELECT d.doc_id,
                   coalesce(cl.cluster_id, d.doc_id) AS split_key
            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        )
        SELECT doc_id, split_key,
               CASE {' '.join(_cases)} ELSE '{_last}' END AS split
        FROM (SELECT doc_id, split_key,
                     {_sbs("split_key", "split")} AS bucket
              FROM keyed)
        ORDER BY doc_id
    """
    # effective_tokens: the dedup_clusters closure (exact jaccard 0.6),
    # kept = unclustered or min-id representative, tokens() mirror
    # (un-lowercased whitespace split), exact integer sums, one double
    # division rounded 4dp
    sql["effective_tokens"] = f"""
        WITH RECURSIVE {_closure_cte}, cl AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        ), tkc AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(list_filter(string_split_regex(text, '\\s+'),
                                             x -> x <> '')) END AS ntok
            FROM documents
        ), keyed AS (
            SELECT d.doc_id, d.source, tkc.ntok,
                   (cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id) AS kept
            FROM documents d
            JOIN tkc ON tkc.doc_id = d.doc_id
            LEFT JOIN cl ON cl.doc_id = d.doc_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
                   AS effective_tokens,
               CASE WHEN sum(ntok) > 0 THEN
                    round(CAST(sum(CASE WHEN kept THEN ntok ELSE 0 END)
                               AS DOUBLE)
                          / CAST(sum(ntok) AS DOUBLE), 4)
               END AS effective_ratio
        FROM keyed
        GROUP BY source
        ORDER BY source NULLS LAST
    """
    # split_leakage: both assignments over the same closure; the pair
    # join counts split-straddling endpoints under each keying
    _cases_p = ' '.join(_cases).replace("bucket", "bp")
    _cases_s = ' '.join(_cases).replace("bucket", "bs")
    sql["split_leakage"] = f"""
        WITH RECURSIVE {_closure_cte}, cl AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        ), keyed AS (
            SELECT d.doc_id,
                   coalesce(cl.cluster_id, d.doc_id) AS split_key
            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        ), assigned AS (
            SELECT doc_id,
                   CASE {_cases_p} ELSE '{_last}' END AS sp,
                   CASE {_cases_s} ELSE '{_last}' END AS ss
            FROM (SELECT doc_id,
                         {_sbs("doc_id", "split")} AS bp,
                         {_sbs("split_key", "split")} AS bs
                  FROM keyed)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(coalesce(sum(CASE WHEN a.sp <> b.sp THEN 1 ELSE 0 END),
                    0) AS BIGINT) AS leaked_id_hash,
               CAST(coalesce(sum(CASE WHEN a.ss <> b.ss THEN 1 ELSE 0 END),
                    0) AS BIGINT) AS leaked_cluster_hash
        FROM jp JOIN assigned a ON jp.id_a = a.doc_id
                JOIN assigned b ON jp.id_b = b.doc_id
    """
    # containment_split: closure over the UNION of exact-Jaccard and
    # exact-containment pair sets (both detectors' engine compares
    # mirrored exactly: float-division jaccard >= t like the engine's
    # verify, integer inter*t_den >= min*t_num for containment), then
    # the identical bucket CASE on the cluster representative.  No LSH
    # banding anywhere, so no recall dependence.
    sql["containment_split"] = f"""
        WITH RECURSIVE {_shingle_pair_cte(
            "inter::DOUBLE / (s1.n + s2.n - inter) >= 0.6"
            " OR inter * 1000000 >= least(s1.n, s2.n) * 600000"
        )}, edges AS (
            SELECT id_a AS a, id_b AS b FROM jp
            UNION
            SELECT id_b, id_a FROM jp
        ), reach(id, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id
        ), cl AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        ), keyed AS (
            SELECT d.doc_id,
                   coalesce(cl.cluster_id, d.doc_id) AS split_key
            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        )
        SELECT doc_id, split_key,
               CASE {' '.join(_cases)} ELSE '{_last}' END AS split
        FROM (SELECT doc_id, split_key,
                     {_sbs("split_key", "split")} AS bucket
              FROM keyed)
        ORDER BY doc_id
    """
    # weighted_sample: Efraimidis-Spirakis keys, log domain (ln + division
    # only — no pow), md5-bucket uniform draw
    sql["weighted_sample"] = f"""
        SELECT doc_id, n_chars, skey FROM (
            SELECT doc_id, n_chars,
                   -- + 0 folds IEEE -0.0 to +0.0 (Spark's round already
                   -- returns +0.0; DuckDB's keeps the sign)
                   round(ln(({_sbs("doc_id", "ws")} + 0.5) / 65536.0)
                         / CAST(n_chars AS DOUBLE), 6) + 0 AS skey,
                   ln(({_sbs("doc_id", "ws")} + 0.5) / 65536.0)
                       / CAST(n_chars AS DOUBLE) AS rawkey
            FROM documents WHERE n_chars > 0
            ORDER BY rawkey DESC, doc_id LIMIT 50)
        ORDER BY doc_id
    """

    def _colstats(c: str) -> str:
        # every round() carries "+ 0": DuckDB keeps IEEE -0.0 where Spark
        # returns +0.0, and a regenerated fixture with values crossing
        # zero would hash-mismatch on '-0.0' (the weighted_sample lesson)
        return f"""
            SELECT '{c}' AS col_name,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS null_count,
                   round(CAST(min({c}) AS DOUBLE), 4) + 0 AS min_value,
                   round(CAST(max({c}) AS DOUBLE), 4) + 0 AS max_value,
                   round(quantile_cont({c}, 0.25), 4) + 0 AS p25,
                   round(quantile_cont({c}, 0.5), 4) + 0 AS p50,
                   round(quantile_cont({c}, 0.75), 4) + 0 AS p75
            FROM events
        """

    sql["column_stats"] = (
        f"SELECT * FROM ({_colstats('user_id')} UNION ALL "
        f"{_colstats('value')}) ORDER BY col_name"
    )
    sql["key_skew"] = """
        WITH c AS (
            SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ), t AS (
            SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM c
        )
        SELECT CAST(k AS VARCHAR) AS key, n,
               round(n / CAST(total AS DOUBLE), 4) AS share,
               round(n * n_keys / CAST(total AS DOUBLE), 2) AS skew_x
        FROM c, t ORDER BY n DESC, key LIMIT 10
    """
    sql["source_balance"] = """
        WITH c AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        ), r AS (
            SELECT n, row_number() OVER (ORDER BY n ASC, source) AS i
            FROM c
        ), t AS (
            SELECT CAST(count(*) AS BIGINT) AS ng,
                   CAST(sum(n) AS BIGINT) AS tt
            FROM r
        )
        SELECT max(t.ng) AS n_groups,
               CAST(max(t.tt) AS BIGINT) AS total,
               round(max(r.n) / CAST(max(t.tt) AS DOUBLE), 4) AS top1_share,
               round(CAST(sum(CASE WHEN r.i > t.ng - 5 THEN r.n ELSE 0 END)
                          AS DOUBLE) / max(t.tt), 4) AS top5_share,
               round(CAST(sum((2 * r.i - t.ng - 1) * r.n) AS DOUBLE)
                     / (max(t.ng) * max(t.tt)), 4) AS gini
        FROM r, t
    """
    sql["weekly_growth"] = """
        WITH c AS (
            SELECT event_type,
                   (epoch_ms(ts) // 86400000) // 7 AS period,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, period, n,
               round(n / CAST(lag(n) OVER (
                   PARTITION BY event_type ORDER BY period
               ) AS DOUBLE) - 1, 4) + 0 AS growth
        FROM c ORDER BY event_type, period
    """
    _GAP_SPINE = """
        base AS (
            SELECT event_type AS g, epoch_ms(ts) // 86400000 AS day
            FROM events
        ), c AS (
            SELECT g, day, CAST(count(*) AS BIGINT) AS n
            FROM base GROUP BY 1, 2
        ), bounds AS (
            SELECT min(day) AS d0, max(day) AS d1 FROM base
        ), spine AS (
            SELECT g, gs.day
            FROM (SELECT DISTINCT g FROM base)
            CROSS JOIN (
                SELECT unnest(generate_series(d0, d1)) AS day FROM bounds
            ) gs
        ), filled AS (
            SELECT spine.g, spine.day,
                   CAST(coalesce(c.n, 0) AS BIGINT) AS n_raw,
                   c.n IS NOT NULL AS observed
            FROM spine LEFT JOIN c USING (g, day)
        )
    """
    sql["gap_filled_daily"] = f"""
        WITH {_GAP_SPINE}
        SELECT g AS event_type, day, n_raw AS n, observed
        FROM filled ORDER BY event_type, day
    """
    sql["gap_filled_ffill"] = f"""
        WITH {_GAP_SPINE}
        SELECT g AS event_type, day,
               CAST(coalesce(last_value(
                   CASE WHEN observed THEN n_raw END IGNORE NULLS
               ) OVER (
                   PARTITION BY g ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 0) AS BIGINT) AS n,
               observed
        FROM filled ORDER BY event_type, day
    """
    sql["transition_matrix"] = """
        WITH p AS (
            SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type,
                   event_type AS next_type
            FROM events WHERE event_type IS NOT NULL
        )
        SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM p WHERE prev_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    # Exact replay of event_pagerank's power iteration: the engine folds
    # pi[i] * (n_ij / out_i) over incoming edges sorted by source state,
    # and the dangling mass in ascending state order — list(... ORDER BY)
    # + list_sum reproduces both left folds bit-for-bit (the repo's
    # array-fold parity pattern).  Literals are CAST to DOUBLE first so
    # (1.0 - 0.85) matches IEEE, not exact-decimal, arithmetic.
    sql["event_pagerank"] = """
        WITH RECURSIVE p AS (
            SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type,
                   event_type AS next_type
            FROM events WHERE event_type IS NOT NULL
        ), e AS (
            SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ), st AS (
            SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS idx
            FROM (
                SELECT DISTINCT prev_type AS s FROM e
                UNION SELECT DISTINCT next_type FROM e
            )
        ), kk AS (
            SELECT CAST(count(*) AS BIGINT) AS k FROM st
        ), outdeg AS (
            SELECT prev_type, sum(n) AS tot FROM e GROUP BY 1
        ), w AS (
            SELECT si.idx AS i, sj.idx AS j,
                   CAST(e.n AS DOUBLE) / CAST(o.tot AS DOUBLE) AS wt
            FROM e
            JOIN st si ON si.s = e.prev_type
            JOIN st sj ON sj.s = e.next_type
            JOIN outdeg o ON o.prev_type = e.prev_type
        ), inc AS (
            SELECT st.idx AS j,
                   coalesce(lw.lst,
                            CAST([] AS STRUCT(i BIGINT, wt DOUBLE)[])) AS lst
            FROM st LEFT JOIN (
                SELECT j, list({'i': i, 'wt': wt} ORDER BY i) AS lst
                FROM w GROUP BY j
            ) lw ON lw.j = st.idx
        ), mat AS (
            SELECT list(lst ORDER BY j) AS m FROM inc
        ), dang AS (
            SELECT coalesce(list(st.idx ORDER BY st.idx),
                            CAST([] AS BIGINT[])) AS didx
            FROM st LEFT JOIN outdeg o ON o.prev_type = st.s
            WHERE o.prev_type IS NULL
        ), iter AS (
            -- k, mat, didx ride along as row columns: DuckDB lambdas may
            -- reference row columns but not subqueries
            SELECT 0 AS it,
                   list_transform(range(1, kk.k + 1),
                       x -> CAST(1.0 AS DOUBLE) / kk.k) AS pi,
                   mat.m AS m, dang.didx AS didx, kk.k AS k
            FROM mat, dang, kk
            UNION ALL
            SELECT it + 1,
                   list_transform(m, inc_l ->
                       base + d85 * (
                           coalesce(list_sum(list_transform(inc_l,
                               ee -> pi[ee.i] * ee.wt)), CAST(0 AS DOUBLE))
                           + dmk)),
                   m, didx, k
            FROM (
                SELECT it, pi, m, didx, k,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / k
                           AS base,
                       CAST(0.85 AS DOUBLE) AS d85,
                       coalesce(list_sum(list_transform(didx, d -> pi[d])),
                                CAST(0 AS DOUBLE)) / k AS dmk
                FROM iter WHERE it < 10
            )
        )
        SELECT st.s AS state,
               round(f.pi[st.idx], 4) + 0 AS rank
        FROM st, (SELECT pi FROM iter WHERE it = 10) f
        ORDER BY state
    """
    # Mirrors dedup.tfidf_cosine_pairs(ngram=3, max_df=64, threshold=0.3):
    # binary shingle tf, idf = ln(N/df) on the df-pruned vocab, per-doc
    # norm and per-pair dot both replayed as ascending-key list folds.
    sql["tfidf_cosine"] = r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> '') AS w
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term
            FROM toks, unnest(range(1, len(w) - 1)) AS u(i)
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM sh GROUP BY 1, 2
        ), dfq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), nd AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        ), tfd AS (
            SELECT doc_id, term,
                   CAST(tf AS DOUBLE)
                       * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                       AS wgt
            FROM tf JOIN dfq USING (term), nd
            WHERE df <= 64
        ), vec AS (
            SELECT doc_id, list({'term': term, 'wgt': wgt} ORDER BY term) AS tv
            FROM tfd GROUP BY doc_id
        ), vecn AS (
            SELECT doc_id, tv,
                   sqrt(list_sum(list_transform(tv, x -> x.wgt * x.wgt)))
                       AS nrm
            FROM vec
        ), post AS (
            SELECT t.term AS term, doc_id, t.wgt / nrm AS uw
            FROM (SELECT doc_id, nrm, unnest(tv) AS t
                  FROM vecn WHERE nrm > 0)
        ), cand AS (
            SELECT term, list({'d': doc_id, 'u': uw} ORDER BY doc_id) AS ps
            FROM post GROUP BY term HAVING count(*) >= 2
        ), pr AS (
            SELECT term, ps[i].d AS a, ps[j].d AS b, ps[i].u * ps[j].u AS prod
            FROM cand,
                 unnest(range(1, len(ps) + 1)) AS u1(i),
                 unnest(range(1, len(ps) + 1)) AS u2(j)
            WHERE i < j
        ), dots AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_shared,
                   list_sum(list(prod ORDER BY term)) AS c_raw
            FROM pr GROUP BY a, b
        )
        SELECT a AS doc_a, b AS doc_b, n_shared,
               round(c_raw, 4) + 0 AS cosine
        FROM dots WHERE c_raw >= CAST(0.3 AS DOUBLE)
        ORDER BY doc_a, doc_b
    """
    # the oracle is the PLAIN join — salted_join's contract is row-
    # identical results, so the hash compare is the parity proof
    sql["salted_brand_revenue"] = """
        SELECT p_brand,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE), 4) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
    """
    sql["user_accumulation"] = """
        WITH fd AS (
            SELECT user_id, min(epoch_ms(ts) // 86400000) AS day
            FROM events GROUP BY 1
        ), pd AS (
            SELECT day, CAST(count(*) AS BIGINT) AS new_users
            FROM fd GROUP BY 1
        )
        SELECT day, new_users,
               CAST(sum(new_users) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM pd ORDER BY day
    """
    # PQ oracles: replay all 4 subspace k-means chains (same fold-order
    # machinery as kmeans_assign, parametrized by the sliced vector
    # table), then the encode argmax / ADC score folds.
    def _asg_t(v: str, cent: str) -> str:
        return f"""
        SELECT vec_id, ci FROM (
            SELECT {v}.vec_id, {cent}.ci,
                   row_number() OVER (PARTITION BY {v}.vec_id ORDER BY
                       list_sum(list_apply(list_zip({v}.e, {cent}.ce),
                                           p -> p[1] * p[2]))
                       / sqrt(list_sum(list_apply({cent}.ce, x -> x * x)))
                       DESC, {cent}.ci DESC) AS rn
            FROM {v}, {cent})
        WHERE rn = 1
        """

    def _upd_t(v: str, a: str, c_prev: str) -> str:
        return f"""
        SELECT {c_prev}.ci, COALESCE(mm.ce, {c_prev}.ce) AS ce
        FROM {c_prev} LEFT JOIN (
            SELECT ci, list(m ORDER BY pos) AS ce FROM (
                SELECT x.ci, x.pos,
                       list_sum(list(x.val ORDER BY x.vec_id)) / count(*) AS m
                FROM (
                    SELECT {a}.ci, generate_subscripts({v}.e, 1) AS pos,
                           unnest({v}.e) AS val, {v}.vec_id
                    FROM {v} JOIN {a} ON {v}.vec_id = {a}.vec_id) x
                GROUP BY x.ci, x.pos)
            GROUP BY ci) mm
        ON {c_prev}.ci = mm.ci
        """

    _PQ_SUB = 16  # 64 dims / m=4
    _pq_chains = []
    for s in range(4):
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
        _pq_chains.append(
            f"v{s} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM v),\n"
            f"c0_{s} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1"
            f" AS ci, e AS ce FROM v{s} ORDER BY vec_id LIMIT 8),\n"
            f"a0_{s} AS ({_asg_t(f'v{s}', f'c0_{s}')}),\n"
            f"c1_{s} AS ({_upd_t(f'v{s}', f'a0_{s}', f'c0_{s}')}),\n"
            f"a1_{s} AS ({_asg_t(f'v{s}', f'c1_{s}')}),\n"
            f"c2_{s} AS ({_upd_t(f'v{s}', f'a1_{s}', f'c1_{s}')}),\n"
            f"e_{s} AS ({_asg_t(f'v{s}', f'c2_{s}')})"
        )
    _PQ_WITH = (
        "v AS (SELECT vec_id, list_apply(embedding, x -> CAST(x AS"
        " DOUBLE)) AS e FROM embeddings),\n" + ",\n".join(_pq_chains)
    )
    sql["pq_codes"] = f"""
        WITH {_PQ_WITH}
        SELECT e_0.vec_id,
               concat(CAST(e_0.ci AS VARCHAR), '-', CAST(e_1.ci AS VARCHAR),
                      '-', CAST(e_2.ci AS VARCHAR), '-',
                      CAST(e_3.ci AS VARCHAR)) AS code
        FROM e_0
        JOIN e_1 ON e_1.vec_id = e_0.vec_id
        JOIN e_2 ON e_2.vec_id = e_0.vec_id
        JOIN e_3 ON e_3.vec_id = e_0.vec_id
        ORDER BY e_0.vec_id
    """
    def _adc_terms_for(qe: str) -> str:
        return " + ".join(
            f"list_sum(list_apply(list_zip({qe}[{s * _PQ_SUB + 1}:"
            f"{(s + 1) * _PQ_SUB}], cw{s}.ce), p -> p[1] * p[2]))"
            for s in range(4)
        )

    _adc_terms = _adc_terms_for("q.qe")
    sql["pq_adc_topk"] = f"""
        WITH {_PQ_WITH},
        q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
        pairs AS (
            SELECT q.query_id, e_0.vec_id AS neighbor_id,
                   round({_adc_terms}, 4) + 0 AS score
            FROM q
            JOIN e_0 ON q.query_id <> e_0.vec_id
            JOIN e_1 ON e_1.vec_id = e_0.vec_id
            JOIN e_2 ON e_2.vec_id = e_0.vec_id
            JOIN e_3 ON e_3.vec_id = e_0.vec_id
            JOIN c2_0 cw0 ON cw0.ci = e_0.ci
            JOIN c2_1 cw1 ON cw1.ci = e_1.ci
            JOIN c2_2 cw2 ON cw2.ci = e_2.ci
            JOIN c2_3 cw3 ON cw3.ci = e_3.ci
        )
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id)
                      AS rank
            FROM pairs)
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    # ivf_pq_topk: the fused path — coarse assignment/probes exactly as
    # ann_topk_ivf (sampled centroids, dot/norm score, ties ci DESC),
    # candidates from shared inverted lists, ADC score from the PQ
    # chains.  round(...) + 0: ADC dots can be negative (−0.0 guard).
    sql["ivf_pq_topk"] = f"""
        WITH {_PQ_WITH},
        cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS ce
            FROM v ORDER BY vec_id LIMIT 8
        ), vc AS (
            SELECT v.vec_id, cent.ci,
                   list_sum(list_apply(list_zip(v.e, cent.ce),
                                       p -> p[1] * p[2]))
                   / sqrt(list_sum(list_apply(cent.ce, x -> x * x))) AS s
            FROM v, cent
        ), rankedc AS (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, ci DESC) AS rn
            FROM vc
        ), assign AS (
            SELECT vec_id, ci AS list_id FROM rankedc WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, ci AS list_id FROM rankedc
            WHERE rn <= 3 AND vec_id < 5
        ), cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a ON p.list_id = a.list_id
            WHERE p.query_id <> a.vec_id
        ), pairs AS (
            SELECT c.query_id, c.neighbor_id,
                   round({_adc_terms_for("qv.e")}, 4) + 0 AS score
            FROM cand c
            JOIN v qv ON qv.vec_id = c.query_id
            JOIN e_0 ON e_0.vec_id = c.neighbor_id
            JOIN e_1 ON e_1.vec_id = c.neighbor_id
            JOIN e_2 ON e_2.vec_id = c.neighbor_id
            JOIN e_3 ON e_3.vec_id = c.neighbor_id
            JOIN c2_0 cw0 ON cw0.ci = e_0.ci
            JOIN c2_1 cw1 ON cw1.ci = e_1.ci
            JOIN c2_2 cw2 ON cw2.ci = e_2.ci
            JOIN c2_3 cw3 ON cw3.ci = e_3.ci
        )
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id)
                      AS rank
            FROM pairs)
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    # IVFADC: residual PQ — coarse assignment as in ivf_pq_topk, residual
    # table (training excludes the zero-residual centroid rows, mirroring
    # ivfadc_components), 4 residual k-means chains via the same
    # _asg_t/_upd_t machinery, encode over ALL residuals, score =
    # coarse dot + left-assoc ADC terms.
    _radc_chains = []
    for s in range(4):
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
        _radc_chains.append(
            f"rvt{s} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM rvt),\n"
            f"rv{s} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM rv),\n"
            f"rc0_{s} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1"
            f" AS ci, e AS ce FROM rvt{s} ORDER BY vec_id LIMIT 8),\n"
            f"ra0_{s} AS ({_asg_t(f'rvt{s}', f'rc0_{s}')}),\n"
            f"rc1_{s} AS ({_upd_t(f'rvt{s}', f'ra0_{s}', f'rc0_{s}')}),\n"
            f"ra1_{s} AS ({_asg_t(f'rvt{s}', f'rc1_{s}')}),\n"
            f"rc2_{s} AS ({_upd_t(f'rvt{s}', f'ra1_{s}', f'rc1_{s}')}),\n"
            f"renc_{s} AS ({_asg_t(f'rv{s}', f'rc2_{s}')})"
        )
    _radc_terms = " + ".join(
        f"list_sum(list_apply(list_zip(qv.e[{s * _PQ_SUB + 1}:"
        f"{(s + 1) * _PQ_SUB}], rcw{s}.ce), p -> p[1] * p[2]))"
        for s in range(4)
    )
    _radc_chain_sql = ",\n        ".join(_radc_chains)
    sql["ivfadc_topk"] = f"""
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), cent AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS ce
            FROM v ORDER BY vec_id LIMIT 8
        ), vc AS (
            SELECT v.vec_id, cent.ci,
                   list_sum(list_apply(list_zip(v.e, cent.ce),
                                       p -> p[1] * p[2]))
                   / sqrt(list_sum(list_apply(cent.ce, x -> x * x))) AS s
            FROM v, cent
        ), rankedc AS (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, ci DESC) AS rn
            FROM vc
        ), assign AS (
            SELECT vec_id, ci AS list_id FROM rankedc WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, ci AS list_id FROM rankedc
            WHERE rn <= 3 AND vec_id < 5
        ), rv AS (
            SELECT v.vec_id, a.list_id,
                   list_apply(list_zip(v.e, cent.ce), p -> p[1] - p[2]) AS e
            FROM v JOIN assign a ON v.vec_id = a.vec_id
            JOIN cent ON cent.ci = a.list_id
        ), rvt AS (
            SELECT * FROM rv WHERE len(list_filter(e, x -> x <> 0)) > 0
        ),
        {_radc_chain_sql},
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id, a.list_id
            FROM probes p JOIN assign a ON p.list_id = a.list_id
            WHERE p.query_id <> a.vec_id
        ), pairs AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_sum(list_apply(list_zip(qv.e, cc.ce),
                                             p -> p[1] * p[2]))
                         + ({_radc_terms}), 4) + 0 AS score
            FROM cand c
            JOIN v qv ON qv.vec_id = c.query_id
            JOIN cent cc ON cc.ci = c.list_id
            JOIN renc_0 ON renc_0.vec_id = c.neighbor_id
            JOIN renc_1 ON renc_1.vec_id = c.neighbor_id
            JOIN renc_2 ON renc_2.vec_id = c.neighbor_id
            JOIN renc_3 ON renc_3.vec_id = c.neighbor_id
            JOIN rc2_0 rcw0 ON rcw0.ci = renc_0.ci
            JOIN rc2_1 rcw1 ON rcw1.ci = renc_1.ci
            JOIN rc2_2 rcw2 ON rcw2.ci = renc_2.ci
            JOIN rc2_3 rcw3 ON rcw3.ci = renc_3.ci
        )
        SELECT query_id, neighbor_id, score, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id)
                      AS rank
            FROM pairs)
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    # Mirrors ewma_smooth(gap_filled_daily(...), alpha=0.3): the gap
    # spine, then per-prefix list_reduce left folds — identical double
    # ops to Spark's aggregate() fold (init = first element, 0.3*x +
    # 0.7*acc; no pow()).
    sql["ewma_daily"] = f"""
        WITH {_GAP_SPINE}
        , arr AS (
            SELECT g, list({{'day': day, 'n': n_raw}} ORDER BY day) AS a
            FROM filled GROUP BY g
        )
        SELECT g AS event_type, a[i].day AS day,
               CAST(a[i].n AS BIGINT) AS n,
               round(list_reduce(
                   list_transform(a[1:i], e -> CAST(e.n AS DOUBLE)),
                   (acc, x) -> CAST(0.3 AS DOUBLE) * x
                               + CAST(0.7 AS DOUBLE) * acc
               ), 4) AS ewma
        FROM arr, unnest(range(1, len(a) + 1)) AS t(i)
        ORDER BY event_type, day
    """
    # Mirrors analytics.rank_buckets(n_buckets=10): bucket = least(
    # (10 * strictly-smaller-count) div N, 9) — pure integer math on the
    # distinct-score table, ties share a bucket by construction.
    sql["doc_length_deciles"] = """
        WITH sc AS (
            SELECT n_chars AS s, CAST(count(*) AS BIGINT) AS c
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
        ), b AS (
            SELECT s,
                   CAST(least(
                       (10 * coalesce(CAST(sum(c) OVER (
                            ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) AS BIGINT), 0))
                       // CAST(sum(c) OVER () AS BIGINT),
                       9) AS BIGINT) AS bucket
            FROM sc
        )
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
               min(n_chars) AS lo, max(n_chars) AS hi
        FROM documents JOIN b ON documents.n_chars = b.s
        GROUP BY 1 ORDER BY 1
    """
    # Hashed-feature classifier: 3-nibble md5 bucket (dsir convention),
    # Knuth-scatter pseudo-weights (dyadic rationals → exact double sums),
    # mean + bias, round 4dp (+0 normalizes a -0.0).  keep compares the
    # ROUNDED score like the engine.
    _qcn = lambda i: f"(strpos('0123456789abcdef', substr(md5('qc:' || x), {i}, 1)) - 1)"
    _qcw = (
        f"CAST((({_qcn(1)} * 256 + {_qcn(2)} * 16 + {_qcn(3)}) * 2654435761) % 4096"
        " AS DOUBLE) / 4096.0 - 0.5"
    )
    sql["quality_classifier"] = f"""
        WITH {_tok_cte}, s AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   round(CASE WHEN len(t) = 0 THEN 0.1
                         ELSE 0.1 + list_sum(list_apply(t, x -> {_qcw})) / len(t)
                         END, 4) + 0 AS score
            FROM tok
        )
        SELECT doc_id, n_tokens, score, (score >= 0.0) AS keep
        FROM s ORDER BY doc_id
    """
    # Fixed-width 8-token blocks over lowercased tokens; DuckDB list
    # slicing is 1-based inclusive, mirroring slice(toks, (i-1)*8+1, 8).
    sql["boilerplate_blocks"] = r"""
        WITH ltok AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') END AS t
            FROM documents
        ), blk AS (
            SELECT doc_id, array_to_string(t[(i - 1) * 8 + 1 : i * 8], ' ') AS segment
            FROM ltok,
                 unnest(generate_series(1, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
            WHERE len(t) > 0
        )
        SELECT segment, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM blk GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
        ORDER BY n_docs DESC, segment
    """
    # Edit-similarity pairs: identical rare-shingle blocking (df ≤ 32),
    # the integer length prefilter, then DuckDB levenshtein on the same
    # 512-char lowercased prefixes.  The threshold filter uses the
    # UNROUNDED similarity like the engine; editsim ≥ 0.9 > 0 so no -0.0
    # guard is needed.
    sql["dedup_editdist"] = r"""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), dfq AS (
            SELECT shingle, count(*) AS df FROM sh GROUP BY 1 HAVING count(*) <= 32
        ), keyed AS (
            -- each doc blocks on its 8 rarest (df, shingle) shingles:
            -- candidates are linear in corpus size (engine rarest_k=8)
            SELECT doc_id, shingle FROM (
                SELECT sh.doc_id, sh.shingle,
                       row_number() OVER (PARTITION BY sh.doc_id
                                          ORDER BY dfq.df, sh.shingle) AS rn
                FROM sh JOIN dfq ON sh.shingle = dfq.shingle) r
            WHERE rn <= 8
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM keyed a JOIN keyed b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ), tx AS (
            SELECT doc_id, substr(lower(text), 1, 512) AS s FROM documents
        ), v AS (
            SELECT id_a, id_b,
                   levenshtein(a.s, b.s) AS lev,
                   greatest(length(a.s), length(b.s)) AS big,
                   least(length(a.s), length(b.s)) AS small
            FROM cand JOIN tx a ON id_a = a.doc_id JOIN tx b ON id_b = b.doc_id
            WHERE (greatest(length(a.s), length(b.s))
                   - least(length(a.s), length(b.s))) * 1000000
                  <= 100000 * greatest(length(a.s), length(b.s))
        )
        SELECT id_a, id_b,
               round(1.0 - CAST(lev AS DOUBLE) / CAST(big AS DOUBLE), 4) AS editsim
        FROM v
        WHERE 1.0 - CAST(lev AS DOUBLE) / CAST(big AS DOUBLE) >= CAST(0.9 AS DOUBLE)
        ORDER BY id_a, id_b
    """
    sql["frequent_sequences"] = """
        WITH h AS (
            SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
            FROM events GROUP BY 1
        ), g AS (
            SELECT user_id, array_to_string(t[i : i + 2], '>') AS sequence
            FROM h, unnest(generate_series(1, len(t) - 2)) AS u(i)
            WHERE len(t) >= 3
        )
        SELECT sequence, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
        FROM g GROUP BY 1
        ORDER BY n_occurrences DESC, sequence LIMIT 20
    """
    # entropy: ascending-token count list fold (dsir pattern); +0
    # normalizes the degenerate single-token group's -0.0
    sql["token_entropy"] = r"""
        WITH tk AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents
        ), c AS (
            SELECT source, tk, count(*) AS c FROM tk GROUP BY 1, 2
        ), g AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   list(c ORDER BY tk) AS cl
            FROM c GROUP BY 1
        )
        SELECT source, n_tokens, n_distinct,
               round(-list_sum(list_apply(cl,
                   x -> (CAST(x AS DOUBLE) / n_tokens)
                        * ln(CAST(x AS DOUBLE) / n_tokens))), 4) + 0 AS entropy
        FROM g ORDER BY source
    """
    sql["window_funcs"] = """
        WITH ev AS (
            SELECT event_id, user_id, event_type,
                   epoch_ms(ts) AS ts_ms, value
            FROM events WHERE event_id < 2000
        )
        SELECT event_id,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY value NULLS LAST, event_id) AS BIGINT) AS rn,
               CAST(rank() OVER (PARTITION BY event_type
                                 ORDER BY value NULLS LAST) AS BIGINT) AS rnk,
               CAST(dense_rank() OVER (PARTITION BY event_type
                                       ORDER BY value NULLS LAST) AS BIGINT) AS drnk,
               CAST(ntile(4) OVER (PARTITION BY event_type
                                   ORDER BY value NULLS LAST, event_id) AS BIGINT) AS nt,
               round(percent_rank() OVER (PARTITION BY event_type
                                          ORDER BY value NULLS LAST), 4) AS prank,
               round(cume_dist() OVER (PARTITION BY event_type
                                       ORDER BY value NULLS LAST), 4) AS cdist,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts_ms, event_id) AS prev_val,
               lead(value) OVER (PARTITION BY user_id
                                 ORDER BY ts_ms, event_id) AS next_val
        FROM ev ORDER BY event_id
    """
    # Welch A/B z: exact decimal moments (money convention), complement =
    # total - group, double math from exact components in the engine's op
    # order.  +0 normalizes a -0.0 z.
    sql["ab_value_ztest"] = """
        WITH per AS (
            SELECT event_type AS grp, CAST(count(value) AS BIGINT) AS n,
                   sum(CAST(value AS DECIMAL(18,2))) AS sv,
                   sum(CAST(value AS DECIMAL(18,2))
                       * CAST(value AS DECIMAL(18,2))) AS sq
            FROM events WHERE event_type IS NOT NULL GROUP BY 1
        ), tot AS (
            SELECT sum(n) AS tn, sum(sv) AS tsv, sum(sq) AS tsq FROM per
        ), m AS (
            SELECT grp, n, CAST(tn - n AS BIGINT) AS n_rest,
                   CAST(sv AS DOUBLE) AS svd, CAST(sq AS DOUBLE) AS sqd,
                   CAST(tsv - sv AS DOUBLE) AS rsvd,
                   CAST(tsq - sq AS DOUBLE) AS rsqd
            FROM per, tot
        ), x AS (
            SELECT grp, n, n_rest,
                   svd / n AS mean, rsvd / n_rest AS mean_rest,
                   (sqd - svd * svd / n) / (n - 1) AS var,
                   (rsqd - rsvd * rsvd / n_rest) / (n_rest - 1) AS var_r
            FROM m
        )
        SELECT grp AS event_type, n, round(mean, 4) AS mean, n_rest,
               round(mean_rest, 4) AS mean_rest,
               round(CASE WHEN n >= 2 AND n_rest >= 2
                          AND (var / n + var_r / n_rest) > 0
                     THEN (mean - mean_rest)
                          / sqrt(var / n + var_r / n_rest) END, 4) + 0 AS z
        FROM x ORDER BY event_type
    """
    # Label propagation: identical kNN edges (k=5, rounded cosine) with
    # integer round(cos*10000) votes, 3 chained rounds, seeds clamped.
    sql["label_propagation"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4) AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ), lp_edges AS (
            SELECT src, dst, CAST(round(cos * 10000) AS BIGINT) AS w FROM (
                SELECT src, dst, cos,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY cos DESC, dst) AS rank
                FROM scored)
            WHERE rank <= 5
        ), lp_seeds AS (
            SELECT vec_id, label FROM embeddings WHERE vec_id % 5 = 0
        ), lab0 AS (
            SELECT vec_id, label FROM lp_seeds
        ), lab1 AS (
            SELECT n.vec_id, COALESCE(s.label, b.label) AS label
            FROM (SELECT vec_id FROM embeddings) n
            LEFT JOIN lp_seeds s USING (vec_id)
            LEFT JOIN (
                SELECT src AS vec_id, label FROM (
                    SELECT e.src, l.label,
                           row_number() OVER (PARTITION BY e.src
                                              ORDER BY sum(e.w) DESC, l.label) AS rn
                    FROM lp_edges e JOIN lab0 l ON e.dst = l.vec_id
                    WHERE l.label IS NOT NULL
                    GROUP BY e.src, l.label)
                WHERE rn = 1
            ) b USING (vec_id)

        ), lab2 AS (
            SELECT n.vec_id, COALESCE(s.label, b.label) AS label
            FROM (SELECT vec_id FROM embeddings) n
            LEFT JOIN lp_seeds s USING (vec_id)
            LEFT JOIN (
                SELECT src AS vec_id, label FROM (
                    SELECT e.src, l.label,
                           row_number() OVER (PARTITION BY e.src
                                              ORDER BY sum(e.w) DESC, l.label) AS rn
                    FROM lp_edges e JOIN lab1 l ON e.dst = l.vec_id
                    WHERE l.label IS NOT NULL
                    GROUP BY e.src, l.label)
                WHERE rn = 1
            ) b USING (vec_id)

        ), lab3 AS (
            SELECT n.vec_id, COALESCE(s.label, b.label) AS label
            FROM (SELECT vec_id FROM embeddings) n
            LEFT JOIN lp_seeds s USING (vec_id)
            LEFT JOIN (
                SELECT src AS vec_id, label FROM (
                    SELECT e.src, l.label,
                           row_number() OVER (PARTITION BY e.src
                                              ORDER BY sum(e.w) DESC, l.label) AS rn
                    FROM lp_edges e JOIN lab2 l ON e.dst = l.vec_id
                    WHERE l.label IS NOT NULL
                    GROUP BY e.src, l.label)
                WHERE rn = 1
            ) b USING (vec_id)

        )
        SELECT n.vec_id, lab3.label,
               CASE WHEN s.label IS NOT NULL THEN 'seed'
                    WHEN lab3.label IS NOT NULL THEN 'propagated'
                    ELSE 'unlabeled' END AS origin
        FROM (SELECT vec_id FROM embeddings) n
        LEFT JOIN lp_seeds s USING (vec_id)
        LEFT JOIN lab3 USING (vec_id)
        ORDER BY vec_id
    """
    sql["compaction_bins"] = """
        WITH plan AS (
            SELECT source,
                   (sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
                    - n_chars) // 4096 AS bin,
                   n_chars
            FROM documents
        )
        SELECT source, CAST(bin AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(n_chars) AS BIGINT) AS total_bytes
        FROM plan GROUP BY 1, 2 ORDER BY 1, 2
    """
    # JL random projection: the SAME (16×64) plane literals as the engine
    # (seed 7), each output = left-fold dot × 1/√16 (exactly 0.25).  Bare
    # decimal literals parse as DECIMAL in DuckDB (NOT the same double as
    # Spark's `...D` literal — measured a 3e-8 fold divergence that
    # flipped a 4dp rounding); CAST('<repr>' AS DOUBLE) goes through
    # strtod, correctly rounded to the identical bits.  +0 normalizes any
    # -0.0 after rounding.
    from streamkit_spark.functions.similarity import random_hyperplanes

    _rp_planes = random_hyperplanes(64, 16, seed=7)
    _rp_mat = (
        "[" + ", ".join(
            "[" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in p) + "]"
            for p in _rp_planes
        ) + "]"
    )
    sql["random_projection"] = f"""
        SELECT e.vec_id, i - 1 AS pos,
               round(list_sum(list_apply(list_zip(e.embedding, m.m[i]),
                                         p -> p[1] * p[2]))
                     * CAST(0.25 AS DOUBLE), 4) + 0 AS val
        FROM embeddings e,
             (SELECT {_rp_mat} AS m) m,
             unnest(generate_series(1, 16)) AS u(i)
        ORDER BY vec_id, pos
    """
    # kNN graph (brute, k=3): same cosine folds as ann_topk_bruteforce,
    # every vector as a query; rank on the ROUNDED cosine like the engine.
    sql["knn_graph"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4) AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        )
        SELECT src, dst, cos + 0 AS cos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                                         ORDER BY cos DESC, dst) AS rank
            FROM scored)
        WHERE rank <= 3 ORDER BY src, rank
    """
    sql["mutual_knn"] = """
        WITH v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4) AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ), edges AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (PARTITION BY src
                                             ORDER BY cos DESC, dst) AS rank
                FROM scored)
            WHERE rank <= 3
        )
        SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b
        FROM edges GROUP BY 1, 2 HAVING count(*) = 2
        ORDER BY id_a, id_b
    """
    # Triangle census over the k=3 brute kNN graph: same edge CTE as the
    # knn_graph oracle, then the classic wedge 3-way join on the
    # canonical a<b edge set (count is orientation-independent, so it
    # equals the engine's degree-oriented enumeration exactly).
    # shared k=3 brute-kNN canonical-graph prefix (v/scored/edges/und/
    # deg) — ONE definition for triangle_count AND knn_assortativity
    # (the _closure_cte extraction discipline)
    _knn3_und_cte = """v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4) AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ), edges AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (PARTITION BY src
                                             ORDER BY cos DESC, dst) AS rank
                FROM scored)
            WHERE rank <= 3
        ), und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ), deg AS (
            SELECT nv, count(*) AS d FROM (
                SELECT a AS nv FROM und UNION ALL SELECT b AS nv FROM und)
            GROUP BY 1
        )"""
    sql["triangle_count"] = f"""
        WITH {_knn3_und_cte}, tri AS (
            SELECT count(*) AS t
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        ), dagg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges
            FROM deg
        ), ne AS (
            SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und
        )
        SELECT n_nodes, n_edges, n_wedges, CAST(t AS BIGINT) AS n_triangles,
               round(CASE WHEN n_wedges > 0
                          THEN CAST(3 AS DOUBLE) * t / n_wedges
                          ELSE CAST(0 AS DOUBLE) END, 4) + 0 AS global_clustering
        FROM dagg, ne, tri
    """
    # knn_assortativity: Newman r from exact HUGEINT edge-degree moments
    # over the same canonical-graph prefix; one double division, NULL on
    # a degree-regular graph (denominator exactly 0)
    sql["knn_assortativity"] = f"""
        WITH {_knn3_und_cte}, dj AS (
            SELECT CAST(d1.d AS HUGEINT) AS da, CAST(d2.d AS HUGEINT) AS db
            FROM und
            JOIN deg d1 ON und.a = d1.nv
            JOIN deg d2 ON und.b = d2.nv
        ), mo AS (
            SELECT CAST(count(*) AS BIGINT) AS m,
                   CAST(coalesce(sum(da * db), 0) AS HUGEINT) AS s1,
                   CAST(coalesce(sum(da + db), 0) AS HUGEINT) AS s2,
                   CAST(coalesce(sum(da * da + db * db), 0) AS HUGEINT)
                       AS s3
            FROM dj
        ), nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
        )
        SELECT n_nodes, m AS n_edges,
               round(CASE WHEN (2 * CAST(m AS HUGEINT) * s3 - s2 * s2)
                          <> 0 THEN
                     CAST(4 * CAST(m AS HUGEINT) * s1 - s2 * s2 AS DOUBLE)
                     / CAST(2 * CAST(m AS HUGEINT) * s3 - s2 * s2
                            AS DOUBLE) END, 4) + 0 AS r
        FROM mo, nn
    """
    # Deterministic HLL: md5 registers (2-nibble bucket, 60-bit window),
    # rho from the leading-zero hex run + bin() nibble length, harmonic
    # sum as a bucket-ORDERED list_sum (matches Spark's array_sort +
    # aggregate left fold), linear-counting correction, rel_err computed
    # from the ROUNDED estimate like the engine.  alpha emitted as a
    # CAST('repr' AS DOUBLE) strtod literal (round-5 float-literal rule).
    _hll_alpha_lit = repr(0.7213 / (1.0 + 1.079 / 256))
    _hll_nib = "strpos('0123456789abcdef', substr({s}, {i}, 1)) - 1"
    sql["hll_distinct"] = f"""
        WITH dv AS (
            SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
            FROM events WHERE user_id IS NOT NULL
        ), h AS (
            SELECT event_type, md5('hll:' || v) AS hx FROM dv
        ), br AS (
            SELECT event_type,
                   CAST(({_hll_nib.format(s='hx', i=1)}) * 16
                      + ({_hll_nib.format(s='hx', i=2)}) AS BIGINT) AS bucket,
                   substr(hx, 3, 15) AS whex
            FROM h
        ), zr AS (
            SELECT event_type, bucket, whex,
                   length(regexp_extract(whex, '^(0*)', 1)) AS z
            FROM br
        ), rho AS (
            SELECT event_type, bucket,
                   CASE WHEN z = 15 THEN 61
                        ELSE 4 * z + 5 - length(bin(CAST(
                             {_hll_nib.format(s='whex', i='z + 1')} AS BIGINT)))
                   END AS rho
            FROM zr
        ), regs AS (
            SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2
        ), folded AS (
            SELECT event_type, count(*) AS present,
                   list_sum(list(pow(2.0, -r) ORDER BY bucket)) AS s_present
            FROM regs GROUP BY 1
        ), est AS (
            SELECT event_type, present,
                   CAST('{_hll_alpha_lit}' AS DOUBLE) * CAST(65536 AS DOUBLE)
                     / (s_present + CAST(256 - present AS DOUBLE)) AS raw
            FROM folded
        ), he AS (
            SELECT event_type,
                   round(CASE WHEN raw <= CAST(640 AS DOUBLE) AND present < 256
                              THEN CAST(256 AS DOUBLE)
                                   * ln(CAST(256 AS DOUBLE)
                                        / CAST(256 - present AS DOUBLE))
                              ELSE raw END, 4) + 0 AS hll_estimate
            FROM est
        ), ex AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
            FROM dv GROUP BY 1
        )
        SELECT he.event_type, ex.exact_distinct, he.hll_estimate,
               round(abs(he.hll_estimate - ex.exact_distinct)
                     / ex.exact_distinct, 4) + 0 AS rel_err
        FROM he JOIN ex ON he.event_type = ex.event_type
        ORDER BY he.event_type
    """
    # Funnel timing: first-from / first-qualifying-to min-aggregates,
    # exact interpolated percentiles (quantile_cont ≡ Spark percentile).
    sql["funnel_timing"] = """
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        ), a AS (
            SELECT user_id, min(ts_ms) AS t0 FROM e
            WHERE event_type = 'click' GROUP BY 1
        ), c AS (
            SELECT e.user_id, min(e.ts_ms) AS t1, min(a.t0) AS t0
            FROM e JOIN a ON e.user_id = a.user_id
            WHERE e.event_type = 'purchase' AND e.ts_ms > a.t0
            GROUP BY 1
        ), d AS (
            SELECT t1 - t0 AS delta FROM c
        ), s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_converted,
                   round(quantile_cont(delta, 0.5), 4) + 0 AS p50_ms,
                   round(quantile_cont(delta, 0.9), 4) + 0 AS p90_ms,
                   max(delta) AS max_ms
            FROM d
        ), n AS (
            SELECT CAST(count(*) AS BIGINT) AS n_start FROM a
        )
        SELECT 'click' AS step_from, 'purchase' AS step_to,
               n_start, n_converted,
               round(CASE WHEN n_start > 0
                          THEN CAST(n_converted AS DOUBLE)
                               / CAST(n_start AS DOUBLE)
                          ELSE CAST(0 AS DOUBLE) END, 4) + 0 AS conv_rate,
               p50_ms, p90_ms, max_ms
        FROM s, n
    """
    # Mixture plan: normalized weight literals emitted as CAST('repr' AS
    # DOUBLE) (strtod — the round-5 float-literal rule); targets are one
    # double multiply + floor, counts exact longs.
    _mix_w = ", ".join(
        f"('src{i}', CAST('{(float((i % 5) + 1) / 60.0)!r}' AS DOUBLE))"
        for i in range(20)
    )
    sql["mixture_plan"] = rf"""
        WITH w(source, wgt) AS (VALUES {_mix_w}),
        tok AS (
            SELECT source,
                   len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '')) AS n
            FROM documents
        ), avail AS (
            SELECT source, CAST(sum(n) AS BIGINT) AS available_tokens
            FROM tok GROUP BY 1
        ), j AS (
            SELECT a.source, available_tokens,
                   CAST(floor(CAST(30000 AS DOUBLE) * wgt) AS BIGINT)
                     AS target_tokens
            FROM avail a JOIN w ON a.source = w.source
            WHERE available_tokens > 0
        )
        SELECT source, available_tokens, target_tokens,
               round(least(CAST(1 AS DOUBLE),
                           CAST(target_tokens AS DOUBLE)
                           / CAST(available_tokens AS DOUBLE)), 4) + 0 AS rate,
               greatest(CAST(0 AS BIGINT),
                        target_tokens - available_tokens) AS deficit,
               CAST(ceil(CAST(target_tokens AS DOUBLE)
                         / CAST(available_tokens AS DOUBLE)) AS BIGINT)
                 AS epochs
        FROM j ORDER BY source
    """
    # Materialized mixture: plan arithmetic + exact integer bucket
    # compare + epoch unnest (range(0, n) is empty at n = 0).
    from streamkit_spark.functions.curation import sample_bucket_sql

    sql["apply_mixture"] = rf"""
        WITH w(source, wgt) AS (VALUES {_mix_w}),
        tok AS (
            SELECT source,
                   len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '')) AS n
            FROM documents
        ), avail AS (
            SELECT source, CAST(sum(n) AS BIGINT) AS available_tokens
            FROM tok GROUP BY 1
        ), j AS (
            SELECT a.source, available_tokens,
                   CAST(floor(CAST(30000 AS DOUBLE) * wgt) AS BIGINT)
                     AS target_tokens
            FROM avail a JOIN w ON a.source = w.source
            WHERE available_tokens > 0
        ), d2 AS (
            SELECT d.doc_id, d.source,
                   j.target_tokens // j.available_tokens AS efull,
                   j.target_tokens
                     - (j.target_tokens // j.available_tokens)
                       * j.available_tokens AS rem,
                   j.available_tokens AS avail,
                   {sample_bucket_sql('d.doc_id', 'mix')} AS bucket
            FROM documents d JOIN j ON d.source = j.source
        ), counted AS (
            SELECT doc_id, source,
                   efull + CASE WHEN bucket * avail < rem * 65536
                                THEN 1 ELSE 0 END AS n
            FROM d2
        )
        SELECT doc_id, source, CAST(t.i AS INT) AS epoch
        FROM counted, unnest(range(0, n)) AS t(i)
        WHERE n > 0
        ORDER BY doc_id, epoch
    """
    # Count-min sketch: d=4 salted-md5 counter rows, col = 3 leading
    # nibbles (w=4096); estimate = min over rows.  Counters rebuilt
    # nibble-identically, so estimates hash-match.
    _cms_col = (
        f"({_hll_nib.format(s='hx', i=1)}) * 256"
        f" + ({_hll_nib.format(s='hx', i=2)}) * 16"
        f" + ({_hll_nib.format(s='hx', i=3)})"
    )
    sql["cms_user_counts"] = f"""
        WITH occ AS (
            SELECT CAST(user_id AS VARCHAR) AS v FROM events
            WHERE user_id IS NOT NULL
        ), pos AS (
            SELECT v, i AS r,
                   CAST({_cms_col} AS BIGINT) AS pos
            FROM (SELECT v, i,
                         md5('cms:' || CAST(i AS VARCHAR) || ':' || v) AS hx
                  FROM occ, unnest([0, 1, 2, 3]) AS t(i))
        ), sk AS (
            SELECT r, pos, CAST(count(*) AS BIGINT) AS c
            FROM pos GROUP BY 1, 2
        ), probes AS (
            SELECT DISTINCT v FROM occ
        ), ppos AS (
            SELECT v, i AS r,
                   CAST({_cms_col} AS BIGINT) AS pos
            FROM (SELECT v, i,
                         md5('cms:' || CAST(i AS VARCHAR) || ':' || v) AS hx
                  FROM probes, unnest([0, 1, 2, 3]) AS t(i))
        ), est AS (
            SELECT CAST(p.v AS BIGINT) AS user_id,
                   min(coalesce(sk.c, 0)) AS cms_n
            FROM ppos p LEFT JOIN sk ON sk.r = p.r AND sk.pos = p.pos
            GROUP BY 1
        ), exact AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
            FROM events WHERE user_id IS NOT NULL GROUP BY 1
        )
        SELECT exact.user_id, exact_n, cms_n, cms_n - exact_n AS overcount
        FROM exact JOIN est ON exact.user_id = est.user_id
        ORDER BY exact_n DESC, exact.user_id LIMIT 20
    """
    # Semantic clusters: mutual-kNN edges (same CTE as the mutual_knn
    # oracle) + recursive-CTE transitive closure with min-id canonical
    # representative (the dedup_clusters replay).  The chain is shared
    # with cluster_modularity (ONE copy — the _closure_cte discipline).
    _mutual_cluster_cte = """v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4) AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ), knn AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (PARTITION BY src
                                             ORDER BY cos DESC, dst) AS rank
                FROM scored)
            WHERE rank <= 3
        ), mut AS (
            SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b
            FROM knn GROUP BY 1, 2 HAVING count(*) = 2
        ), edges AS (
            SELECT id_a AS a, id_b AS b FROM mut
            UNION
            SELECT id_b, id_a FROM mut
        ), reach(id, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id
        ), cl AS (
            SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1
        )"""
    sql["semantic_clusters"] = f"""
        WITH RECURSIVE {_mutual_cluster_cte}
        SELECT vec_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cl ORDER BY vec_id
    """
    # cluster_modularity: the same mutual-kNN components judged against
    # the FULL (undirected, deduplicated) kNN edge set — degrees, intra
    # counts, and the per-cluster Newman term (4·m·e_c − D_c²)/(4·m²)
    # as ONE double division of exact integers.  NOTE: `und` must count
    # DISTINCT undirected edges (the r5 UNION-inside-RECURSIVE lesson:
    # never trust a bare UNION's dedup where a COUNT depends on it).
    sql["cluster_modularity"] = f"""
        WITH RECURSIVE {_mutual_cluster_cte}, und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM knn
        ), mm AS (
            SELECT CAST(count(*) AS BIGINT) AS m FROM und
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL
                SELECT b FROM und
            ) GROUP BY node
        ), keyed AS (
            SELECT deg.node, coalesce(cl.cluster_id, deg.node) AS ck,
                   deg.deg
            FROM deg LEFT JOIN cl ON cl.vec_id = deg.node
        ), per AS (
            SELECT ck, CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(deg) AS BIGINT) AS d_sum
            FROM keyed GROUP BY ck
        ), intra AS (
            SELECT ka.ck, CAST(count(*) AS BIGINT) AS intra_edges
            FROM und
            JOIN keyed ka ON ka.node = und.a
            JOIN keyed kb ON kb.node = und.b
            WHERE ka.ck = kb.ck
            GROUP BY ka.ck
        )
        SELECT per.ck AS cluster_id, n_nodes, d_sum,
               CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
               CASE WHEN m > 0 THEN
                    round(CAST(4 * m * coalesce(intra_edges, 0)
                               - d_sum * d_sum AS DOUBLE)
                          / CAST(4 * m * m AS DOUBLE), 4) + 0
               END AS contribution
        FROM per LEFT JOIN intra ON per.ck = intra.ck
        CROSS JOIN mm
        ORDER BY cluster_id
    """
    # Day-range HLL: register max-merge over a date range equals the
    # registers of the range's value set (max associativity), so the
    # oracle computes registers over the FILTERED distinct values and
    # replays the same bucket-sorted fold as hll_distinct.
    sql["hll_daily_range"] = f"""
        WITH b AS (
            SELECT min(epoch_ms(ts) // 86400000) AS d0 FROM events
        ), dv AS (
            SELECT DISTINCT event_type,
                   md5('hll:' || CAST(user_id AS VARCHAR)) AS hx
            FROM events, b
            WHERE user_id IS NOT NULL
              AND epoch_ms(ts) // 86400000 BETWEEN b.d0 AND b.d0 + 3
        ), br AS (
            SELECT event_type,
                   CAST(({_hll_nib.format(s='hx', i=1)}) * 16
                      + ({_hll_nib.format(s='hx', i=2)}) AS BIGINT) AS bucket,
                   substr(hx, 3, 15) AS whex
            FROM dv
        ), zr AS (
            SELECT event_type, bucket, whex,
                   length(regexp_extract(whex, '^(0*)', 1)) AS z
            FROM br
        ), rho AS (
            SELECT event_type, bucket,
                   CASE WHEN z = 15 THEN 61
                        ELSE 4 * z + 5 - length(bin(CAST(
                             {_hll_nib.format(s='whex', i='z + 1')} AS BIGINT)))
                   END AS rho
            FROM zr
        ), regs AS (
            SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2
        ), folded AS (
            SELECT event_type, count(*) AS present,
                   list_sum(list(pow(2.0, -r) ORDER BY bucket)) AS s_present
            FROM regs GROUP BY 1
        ), est AS (
            SELECT event_type, present,
                   CAST('{_hll_alpha_lit}' AS DOUBLE) * CAST(65536 AS DOUBLE)
                     / (s_present + CAST(256 - present AS DOUBLE)) AS raw
            FROM folded
        ), he AS (
            SELECT event_type,
                   round(CASE WHEN raw <= CAST(640 AS DOUBLE) AND present < 256
                              THEN CAST(256 AS DOUBLE)
                                   * ln(CAST(256 AS DOUBLE)
                                        / CAST(256 - present AS DOUBLE))
                              ELSE raw END, 4) + 0 AS hll_estimate
            FROM est
        ), ex AS (
            SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
                     AS exact_distinct
            FROM events, b
            WHERE user_id IS NOT NULL
              AND epoch_ms(ts) // 86400000 BETWEEN b.d0 AND b.d0 + 3
            GROUP BY 1
        )
        SELECT he.event_type, ex.exact_distinct, he.hll_estimate,
               round(abs(he.hll_estimate - ex.exact_distinct)
                     / ex.exact_distinct, 4) + 0 AS rel_err
        FROM he JOIN ex ON he.event_type = ex.event_type
        ORDER BY he.event_type
    """
    # KMV pairwise overlap: per-group top-256 salted md5 hashes; the
    # merged-sketch top-k is the union's top-k (KMV merge property), so
    # the Jaccard / union / intersection estimators replay exactly.  The
    # hash fraction u = first-15-nibble BIGINT / 2^60 (exact double
    # scaling, correctly-rounded int→double on both engines).
    _kmv_x = " + ".join(
        f"({_hll_nib.format(s='h', i=i + 1)}) * {16 ** (14 - i)}"
        for i in range(15)
    )
    sql["kmv_overlap"] = f"""
        WITH dv AS (
            SELECT DISTINCT event_type AS g,
                   md5('kmv:' || (CAST(user_id AS VARCHAR) || ':' ||
                       CAST(epoch_ms(ts) // 86400000 AS VARCHAR))) AS h
            FROM events WHERE user_id IS NOT NULL
        ), sk AS (
            SELECT g, h,
                   CAST(({_kmv_x}) AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE) AS u
            FROM (SELECT g, h,
                         row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM dv)
            WHERE rn <= 256
        ), gl AS (
            SELECT DISTINCT g FROM sk
        ), pr AS (
            SELECT a.g AS g_a, b.g AS g_b FROM gl a JOIN gl b ON a.g < b.g
        ), un AS (
            SELECT pr.g_a, pr.g_b, s.h, s.u, TRUE AS in_a, FALSE AS in_b
            FROM pr JOIN sk s ON s.g = pr.g_a
            UNION ALL
            SELECT pr.g_a, pr.g_b, s.h, s.u, FALSE, TRUE
            FROM pr JOIN sk s ON s.g = pr.g_b
        ), m AS (
            SELECT g_a, g_b, h, bool_or(in_a) AS in_a, bool_or(in_b) AS in_b,
                   min(u) AS u
            FROM un GROUP BY 1, 2, 3
        ), x AS (
            SELECT * FROM (
                SELECT m.*, row_number() OVER (PARTITION BY g_a, g_b
                                               ORDER BY h) AS rn FROM m)
            WHERE rn <= 256
        ), st AS (
            SELECT g_a, g_b, count(*) AS kk,
                   sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS mt,
                   max(u) AS uk
            FROM x GROUP BY 1, 2
        )
        SELECT g_a, g_b,
               round(CAST(mt AS DOUBLE) / CAST(kk AS DOUBLE), 4) + 0
                 AS jaccard_est,
               round(CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
                          ELSE CAST(kk - 1 AS DOUBLE) / uk END, 4) + 0
                 AS union_est,
               round((CAST(mt AS DOUBLE) / CAST(kk AS DOUBLE))
                     * (CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
                             ELSE CAST(kk - 1 AS DOUBLE) / uk END), 4) + 0
                 AS inter_est
        FROM st ORDER BY g_a, g_b
    """
    # Spearman: doubled fractional ranks are exact integers; moments are
    # BIGINT; the n·Σ combination needs HUGEINT (mirrors DECIMAL(38,0)).
    sql["spearman_corr"] = """
        WITH base AS (
            SELECT l_returnflag AS grp, l_quantity AS x, l_extendedprice AS y
            FROM lineitem
            WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ), ranked AS (
            SELECT grp,
                   CAST(2 * rank() OVER (PARTITION BY grp ORDER BY x)
                        + count(*) OVER (PARTITION BY grp, x) - 1
                        AS BIGINT) AS rx,
                   CAST(2 * rank() OVER (PARTITION BY grp ORDER BY y)
                        + count(*) OVER (PARTITION BY grp, y) - 1
                        AS BIGINT) AS ry
            FROM base
        ), m AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rx) AS BIGINT) AS sx,
                   CAST(sum(ry) AS BIGINT) AS sy,
                   CAST(sum(rx * ry) AS BIGINT) AS sxy,
                   CAST(sum(rx * rx) AS BIGINT) AS sxx,
                   CAST(sum(ry * ry) AS BIGINT) AS syy
            FROM ranked GROUP BY grp
        )
        SELECT grp AS l_returnflag, n,
               round(CASE WHEN CAST(n AS HUGEINT) * sxx
                               - CAST(sx AS HUGEINT) * sx > 0
                           AND CAST(n AS HUGEINT) * syy
                               - CAST(sy AS HUGEINT) * sy > 0
                     THEN CAST(CAST(n AS HUGEINT) * sxy
                               - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                          / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                      - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                                 * CAST(CAST(n AS HUGEINT) * syy
                                        - CAST(sy AS HUGEINT) * sy AS DOUBLE))
                     END, 4) + 0 AS spearman_rho
        FROM m ORDER BY l_returnflag
    """
    # Chi-squared: exact BIGINT contingency table; the only float
    # reduction replays as list_sum over the (r, c)-sorted term list.
    sql["chi2_weekday"] = """
        WITH base AS (
            SELECT event_type AS r,
                   (epoch_ms(ts) // 86400000 + 4) % 7 AS c
            FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
            SELECT r, c, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY r, c
        ), rt AS (
            SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r
        ), ct AS (
            SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c
        ), tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS tn FROM cells
        ), terms AS (
            SELECT cells.r, cells.c, o,
                   (CAST(o AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(tn AS DOUBLE))
                 * (CAST(o AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(tn AS DOUBLE))
                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                    / CAST(tn AS DOUBLE)) AS t,
                   CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                     / CAST(tn AS DOUBLE) AS e
            FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
        )
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
               CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1)
                    AS BIGINT) AS dof,
               round(list_sum(list(t ORDER BY r, c))
                     + (CAST(sum(o) AS DOUBLE)
                        - list_sum(list(e ORDER BY r, c))), 4) + 0 AS chi2
        FROM terms
    """
    # MAD: both medians are exact order statistics (row_number selects
    # the one/two middle rows — depends only on the sorted multiset).
    sql["mad_outliers"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        ), r1 AS (
            SELECT grp, v,
                   row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
                   count(*) OVER (PARTITION BY grp) AS n
            FROM base
        ), med AS (
            SELECT grp, avg(v) AS med FROM r1
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY grp
        ), devs AS (
            SELECT base.grp, abs(base.v - med.med) AS dev, med.med
            FROM base JOIN med USING (grp)
        ), r2 AS (
            SELECT grp, dev,
                   row_number() OVER (PARTITION BY grp ORDER BY dev) AS rn,
                   count(*) OVER (PARTITION BY grp) AS n
            FROM devs
        ), mad AS (
            SELECT grp, avg(dev) AS mad FROM r2
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY grp
        )
        SELECT devs.grp AS event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(min(devs.med), 4) + 0 AS median,
               round(min(mad.mad), 4) + 0 AS mad,
               CAST(sum(CASE WHEN devs.dev > CAST(3 AS DOUBLE) * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM devs JOIN mad USING (grp)
        GROUP BY devs.grp ORDER BY event_type
    """
    # k-core: recursive-CTE replay of simultaneous peeling — the alive
    # set and the edge list ride along as row columns (lambdas cannot
    # contain subqueries); the fixpoint is round-count independent.
    sql["kcore_knn"] = """
        WITH RECURSIVE v AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS src, c.vec_id AS dst,
                   round(list_sum(list_apply(list_zip(q.e, c.e),
                                             p -> p[1] * p[2]))
                         / (sqrt(list_sum(list_apply(q.e, x -> x * x)))
                            * sqrt(list_sum(list_apply(c.e, x -> x * x)))), 4)
                       AS cos
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ), edges AS (
            SELECT src, dst FROM (
                SELECT src, dst, row_number() OVER (PARTITION BY src
                                             ORDER BY cos DESC, dst) AS rank
                FROM scored)
            WHERE rank <= 5
        ), und AS (
            SELECT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges GROUP BY 1, 2 HAVING count(*) = 2
        ), nodes AS (
            -- NOT a bare UNION: inside WITH RECURSIVE, DuckDB executed
            -- the bare two-branch UNION as UNION ALL (measured: 2x the
            -- node count) — dedup explicitly.
            SELECT DISTINCT nv FROM (
                SELECT a AS nv FROM und UNION ALL SELECT b AS nv FROM und)
        ), peel(r, alive, es) AS (
            SELECT 0,
                   (SELECT list(nv ORDER BY nv) FROM nodes),
                   (SELECT list(struct_pack(a := a, b := b) ORDER BY a, b)
                    FROM und)
            UNION ALL
            SELECT r + 1, alive2, es FROM (
                SELECT r, es, alive,
                       list_filter(alive, vv -> len(list_filter(es,
                           e -> list_contains(alive, e.a)
                                AND list_contains(alive, e.b)
                                AND (e.a = vv OR e.b = vv))) >= 3) AS alive2
                FROM peel) s
            WHERE alive2 <> alive AND r < 100
        ), fin AS (
            SELECT alive, es FROM peel ORDER BY r DESC LIMIT 1
        )
        SELECT vv AS v,
               CAST(len(list_filter(es,
                        e -> list_contains(alive, e.a)
                             AND list_contains(alive, e.b)
                             AND (e.a = vv OR e.b = vv))) AS BIGINT) AS d
        FROM (SELECT unnest(alive) AS vv, alive, es FROM fin)
        ORDER BY v
    """
    # CUBE: all four grouping sets in one aggregate; gid via NULL-marker
    # CASE (the dimension columns are never natively NULL).
    sql["cube_revenue"] = """
        WITH base AS (
            SELECT n_name, year(o_orderdate) AS o_year,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT coalesce(n_name, 'ALL') AS nation,
               coalesce(CAST(o_year AS VARCHAR), 'ALL') AS o_year,
               CAST(2 * (CASE WHEN n_name IS NULL THEN 1 ELSE 0 END)
                    + (CASE WHEN o_year IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(p) AS DOUBLE), 4) AS revenue
        FROM base
        GROUP BY CUBE (n_name, o_year)
        ORDER BY gid, nation, o_year
    """
    # OLS trend: exact BIGINT/DECIMAL moments; the double combination
    # mirrors the engine's op order term for term.
    sql["value_trend"] = """
        WITH base AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS x,
                   CAST(value AS DECIMAL(18,2)) AS y
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), m AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   sum(y) AS sy,
                   sum(y * y) AS syy,
                   sum(CAST(x AS DECIMAL(10,0)) * y) AS sxy
            FROM base GROUP BY grp
        ), d AS (
            SELECT grp, n,
                   CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
                   CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
                   CAST(sx AS DOUBLE) AS sx_d, CAST(sy AS DOUBLE) AS sy_d,
                   CAST(n AS DOUBLE) AS n_d
            FROM m
        )
        SELECT grp AS event_type, n,
               round(CASE WHEN den > 0 THEN num / den END, 4) + 0 AS slope,
               round(CASE WHEN den > 0
                     THEN (sy_d - (num / den) * sx_d) / n_d END, 4) + 0
                 AS intercept,
               round(CASE WHEN den > 0 AND deny > 0
                     THEN num * num / (den * deny) END, 4) + 0 AS r2
        FROM d ORDER BY event_type
    """
    # Cross-source shingle overlap: the kmv_overlap estimator verbatim,
    # fed 3-gram shingles instead of (user, day) activity values.
    sql["source_ngram_overlap"] = f"""
        WITH toks AS (
            SELECT source, list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '') AS w
            FROM documents
        ), shv AS (
            SELECT DISTINCT source AS g,
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS v
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), dv AS (
            SELECT DISTINCT g, md5('kmv:' || v) AS h FROM shv
        ), sk AS (
            SELECT g, h,
                   CAST(({_kmv_x}) AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE) AS u
            FROM (SELECT g, h,
                         row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM dv)
            WHERE rn <= 256
        ), gl AS (
            SELECT DISTINCT g FROM sk
        ), pr AS (
            SELECT a.g AS g_a, b.g AS g_b FROM gl a JOIN gl b ON a.g < b.g
        ), un AS (
            SELECT pr.g_a, pr.g_b, s.h, s.u, TRUE AS in_a, FALSE AS in_b
            FROM pr JOIN sk s ON s.g = pr.g_a
            UNION ALL
            SELECT pr.g_a, pr.g_b, s.h, s.u, FALSE, TRUE
            FROM pr JOIN sk s ON s.g = pr.g_b
        ), m AS (
            SELECT g_a, g_b, h, bool_or(in_a) AS in_a, bool_or(in_b) AS in_b,
                   min(u) AS u
            FROM un GROUP BY 1, 2, 3
        ), x AS (
            SELECT * FROM (
                SELECT m.*, row_number() OVER (PARTITION BY g_a, g_b
                                               ORDER BY h) AS rn FROM m)
            WHERE rn <= 256
        ), st AS (
            SELECT g_a, g_b, count(*) AS kk,
                   sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS mt,
                   max(u) AS uk
            FROM x GROUP BY 1, 2
        )
        SELECT g_a, g_b,
               round(CAST(mt AS DOUBLE) / CAST(kk AS DOUBLE), 4) + 0
                 AS jaccard_est,
               round(CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
                          ELSE CAST(kk - 1 AS DOUBLE) / uk END, 4) + 0
                 AS union_est,
               round((CAST(mt AS DOUBLE) / CAST(kk AS DOUBLE))
                     * (CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
                             ELSE CAST(kk - 1 AS DOUBLE) / uk END), 4) + 0
                 AS inter_est
        FROM st ORDER BY g_a, g_b
    """
    # Linear attribution: credits are rationals 1/n; the float reduction
    # is a fold over the denominator-sorted (n, cnt) list.
    sql["attribution_linear"] = """
        WITH convs AS (
            SELECT user_id AS k, event_id AS pid, epoch_ms(ts) AS pts
            FROM events WHERE event_type = 'purchase'
        ), touches AS (
            SELECT user_id AS k, event_id AS tid, event_type AS ttype,
                   epoch_ms(ts) AS tts
            FROM events WHERE event_type IN ('click', 'view')
        ), j AS (
            SELECT c.pid, t.tid, t.ttype
            FROM convs c LEFT JOIN touches t
              ON c.k = t.k AND t.tts < c.pts
                 AND t.tts >= c.pts - 259200000
        ), pr AS (
            SELECT coalesce(ttype, '(direct)') AS channel,
                   CAST(count(tid) OVER (PARTITION BY pid) AS BIGINT) AS n
            FROM j
        ), bd AS (
            SELECT channel, n, CAST(count(*) AS BIGINT) AS cnt
            FROM pr GROUP BY 1, 2
        ), tm AS (
            SELECT channel, n, cnt,
                   CASE WHEN n = 0 THEN CAST(cnt AS DOUBLE)
                        ELSE CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)
                   END AS t
            FROM bd
        )
        SELECT channel AS event_type,
               CAST(sum(cnt) AS BIGINT) AS n_events,
               round(list_sum(list(t ORDER BY n)), 4) + 0 AS credit
        FROM tm GROUP BY channel ORDER BY event_type
    """
    # Zipf fit: every ln-moment is a rank-sorted left fold; the closed
    # form mirrors the engine's op order term for term.
    sql["zipf_shingles"] = """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '') AS w
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), counts AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM sh GROUP BY tok
        ), ranked AS (
            SELECT row_number() OVER (ORDER BY freq DESC, tok) AS r,
                   freq AS c
            FROM counts
        ), lns AS (
            SELECT r, c, ln(CAST(r AS DOUBLE)) AS lx,
                   ln(CAST(c AS DOUBLE)) AS ly
            FROM ranked
        ), mo AS (
            SELECT CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   list_sum(list(lx ORDER BY r)) AS slx,
                   list_sum(list(ly ORDER BY r)) AS sly,
                   list_sum(list(lx * lx ORDER BY r)) AS slxx,
                   list_sum(list(lx * ly ORDER BY r)) AS slxy,
                   list_sum(list(ly * ly ORDER BY r)) AS slyy
            FROM lns
        )
        SELECT n_types, n_tokens,
               round(CASE WHEN CAST(n_types AS DOUBLE) * slxx - slx * slx > 0
                     THEN (CAST(n_types AS DOUBLE) * slxy - slx * sly)
                          / (CAST(n_types AS DOUBLE) * slxx - slx * slx)
                     END, 4) + 0 AS zipf_slope,
               round(CASE WHEN CAST(n_types AS DOUBLE) * slxx - slx * slx > 0
                           AND CAST(n_types AS DOUBLE) * slyy - sly * sly > 0
                     THEN (CAST(n_types AS DOUBLE) * slxy - slx * sly)
                          * (CAST(n_types AS DOUBLE) * slxy - slx * sly)
                          / ((CAST(n_types AS DOUBLE) * slxx - slx * slx)
                             * (CAST(n_types AS DOUBLE) * slyy - sly * sly))
                     END, 4) + 0 AS r2
        FROM mo
    """
    # Benford: leading digit from the exact integer cent count's string
    # head; expectation constants as repr literals on both engines.
    import math as _math

    _benford_case = " ".join(
        f"WHEN {d} THEN CAST('{_math.log10(1.0 + 1.0 / d)!r}' AS DOUBLE)"
        for d in range(1, 10)
    )
    sql["benford_values"] = f"""
        WITH cents AS (
            SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events WHERE value IS NOT NULL
        ), obs AS (
            SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM cents WHERE c > 0 GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n_obs) AS BIGINT) AS tn FROM obs
        ), wp AS (
            SELECT digit, n_obs, tn,
                   CASE digit {_benford_case} END AS p
            FROM obs CROSS JOIN tot
        )
        SELECT digit, n_obs,
               round(CAST(n_obs AS DOUBLE) / CAST(tn AS DOUBLE), 4) + 0
                 AS share,
               round(p, 4) + 0 AS benford_p,
               round(CAST(n_obs AS DOUBLE) / CAST(tn AS DOUBLE) - p, 4) + 0
                 AS excess
        FROM wp ORDER BY digit
    """
    # Grouped Benford over the value-cell table: the distinct-(grp, v)
    # cells replay value_cells, cents via the same monotone
    # double→DECIMAL(18,2) cast as the engine's benford_from_cells.
    sql["benford_value"] = f"""
        WITH cells AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
                   CAST(count(*) AS BIGINT) AS c
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
            GROUP BY 1, 2
        ), cents AS (
            SELECT grp,
                   CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS ct, c
            FROM cells
        ), obs AS (
            SELECT grp,
                   CAST(substr(CAST(ct AS VARCHAR), 1, 1) AS BIGINT)
                     AS digit,
                   CAST(sum(c) AS BIGINT) AS n_obs
            FROM cents WHERE ct > 0 GROUP BY 1, 2
        ), tot AS (
            SELECT grp, CAST(sum(n_obs) AS BIGINT) AS tn
            FROM obs GROUP BY grp
        ), wp AS (
            SELECT obs.grp, digit, n_obs, tn,
                   CASE digit {_benford_case} END AS p
            FROM obs JOIN tot ON obs.grp = tot.grp
        )
        SELECT grp AS event_type, digit, n_obs,
               round(CAST(n_obs AS DOUBLE) / CAST(tn AS DOUBLE), 4) + 0
                 AS share,
               round(p, 4) + 0 AS benford_p,
               round(CAST(n_obs AS DOUBLE) / CAST(tn AS DOUBLE) - p, 4) + 0
                 AS excess
        FROM wp ORDER BY event_type, digit
    """
    # Heaps: exact integer cumulative points, doc-sorted ln folds, the
    # ols_trend closed-form op order.
    sql["heaps_docs"] = """
        WITH toks AS (
            SELECT doc_id AS d,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS w
            FROM documents
        ), per_doc AS (
            SELECT d, CAST(len(w) AS BIGINT) AS nt FROM toks WHERE len(w) > 0
        ), ex AS (
            SELECT DISTINCT d, tok FROM (
                SELECT d, unnest(w) AS tok FROM toks)
        ), firsts AS (
            SELECT mind AS d, CAST(count(*) AS BIGINT) AS nv FROM (
                SELECT tok, min(d) AS mind FROM ex GROUP BY tok)
            GROUP BY 1
        ), pts AS (
            SELECT p.d,
                   sum(p.nt) OVER (ORDER BY p.d
                                   ROWS UNBOUNDED PRECEDING) AS ct,
                   sum(coalesce(f.nv, 0)) OVER (ORDER BY p.d
                                   ROWS UNBOUNDED PRECEDING) AS cv
            FROM per_doc p LEFT JOIN firsts f ON p.d = f.d
        ), lns AS (
            SELECT d, CAST(ct AS BIGINT) AS ct, CAST(cv AS BIGINT) AS cv,
                   ln(CAST(ct AS DOUBLE)) AS lx,
                   ln(CAST(cv AS DOUBLE)) AS ly
            FROM pts
        ), mo AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(max(ct) AS BIGINT) AS total_tokens,
                   CAST(max(cv) AS BIGINT) AS total_types,
                   list_sum(list(lx ORDER BY d)) AS slx,
                   list_sum(list(ly ORDER BY d)) AS sly,
                   list_sum(list(lx * lx ORDER BY d)) AS slxx,
                   list_sum(list(lx * ly ORDER BY d)) AS slxy,
                   list_sum(list(ly * ly ORDER BY d)) AS slyy
            FROM lns
        )
        SELECT n_docs, total_tokens, total_types,
               round(CASE WHEN CAST(n_docs AS DOUBLE) * slxx - slx * slx > 0
                     THEN (CAST(n_docs AS DOUBLE) * slxy - slx * sly)
                          / (CAST(n_docs AS DOUBLE) * slxx - slx * slx)
                     END, 4) + 0 AS heaps_beta,
               round(CASE WHEN CAST(n_docs AS DOUBLE) * slxx - slx * slx > 0
                     THEN (sly - ((CAST(n_docs AS DOUBLE) * slxy - slx * sly)
                                  / (CAST(n_docs AS DOUBLE) * slxx
                                     - slx * slx)) * slx)
                          / CAST(n_docs AS DOUBLE)
                     END, 4) + 0 AS heaps_logk,
               round(CASE WHEN CAST(n_docs AS DOUBLE) * slxx - slx * slx > 0
                           AND CAST(n_docs AS DOUBLE) * slyy - sly * sly > 0
                     THEN (CAST(n_docs AS DOUBLE) * slxy - slx * sly)
                          * (CAST(n_docs AS DOUBLE) * slxy - slx * sly)
                          / ((CAST(n_docs AS DOUBLE) * slxx - slx * slx)
                             * (CAST(n_docs AS DOUBLE) * slyy - sly * sly))
                     END, 4) + 0 AS r2
        FROM mo
    """
    # Histogram quantiles: integer buckets (floor-div via non-negative
    # operands — Spark div truncates, DuckDB // floors), exact integer
    # rank threshold; no doubles until the reported bound.
    sql["hist_quantiles"] = """
        WITH cents AS (
            SELECT event_type AS grp,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), bk AS (
            SELECT grp,
                   CASE WHEN c >= 0 THEN c // 2500
                        ELSE -((-c + 2499) // 2500) END AS b
            FROM cents
        ), bc AS (
            SELECT grp, b, CAST(count(*) AS BIGINT) AS cc
            FROM bk GROUP BY 1, 2
        ), cum AS (
            SELECT grp, b,
                   CAST(sum(cc) OVER (PARTITION BY grp ORDER BY b
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum
            FROM bc
        ), tot AS (
            SELECT grp, CAST(sum(cc) AS BIGINT) AS n FROM bc GROUP BY 1
        ), ps AS (
            SELECT CAST(p AS BIGINT) AS p FROM (VALUES (50), (90), (99))
                AS t(p)
        ), hits AS (
            SELECT cum.grp, p, n, CAST(min(b) AS BIGINT) AS b
            FROM cum JOIN tot USING (grp) CROSS JOIN ps
            WHERE cum >= (p * n + 99) // 100
            GROUP BY 1, 2, 3
        )
        SELECT grp AS event_type, p, n,
               round(CAST((b + 1) * 2500 AS DOUBLE)
                     / CAST(100 AS DOUBLE), 4) + 0 AS est_hi,
               round(CAST(2500 AS DOUBLE) / CAST(100 AS DOUBLE), 4)
                 AS bucket_width
        FROM hits ORDER BY event_type, p
    """
    # Association rules: exact basket/item/pair counts; the three
    # ratios are fixed double expressions.
    sql["event_assoc"] = """
        WITH base AS (
            SELECT user_id AS u, epoch_ms(ts) // 86400000 AS day,
                   event_type AS it
            FROM events WHERE event_type IS NOT NULL
        ), bi AS (
            SELECT u, day, list_sort(list(DISTINCT it)) AS items
            FROM base GROUP BY 1, 2
        ), nb AS (
            SELECT CAST(count(*) AS BIGINT) AS nb FROM bi
        ), ex AS (
            SELECT u, day, unnest(items) AS it FROM bi
        ), ic AS (
            SELECT it, CAST(count(*) AS BIGINT) AS ci FROM ex GROUP BY 1
        ), pc AS (
            SELECT a.it AS id_a, b.it AS id_b, CAST(count(*) AS BIGINT) AS cp
            FROM ex a JOIN ex b
              ON a.u IS NOT DISTINCT FROM b.u
                 AND a.day IS NOT DISTINCT FROM b.day AND a.it < b.it
            GROUP BY 1, 2
        ), dirs AS (
            SELECT id_a AS ant, id_b AS con, cp FROM pc
            UNION ALL
            SELECT id_b, id_a, cp FROM pc
        )
        SELECT ant AS antecedent, con AS consequent, cp AS n_pair,
               round(CAST(cp AS DOUBLE) / CAST(nb AS DOUBLE), 4) + 0
                 AS support,
               round(CAST(cp AS DOUBLE) / CAST(ca.ci AS DOUBLE), 4) + 0
                 AS confidence,
               round((CAST(nb AS DOUBLE) * CAST(cp AS DOUBLE))
                     / (CAST(ca.ci AS DOUBLE) * CAST(cb.ci AS DOUBLE)), 4)
                 + 0 AS lift
        FROM dirs
        JOIN ic ca ON dirs.ant = ca.it
        JOIN ic cb ON dirs.con = cb.it
        CROSS JOIN nb
        ORDER BY antecedent, consequent
    """
    # PSI: histogram sketch + add-one smoothing over the global bucket
    # spine; the term sum replays as a bucket-sorted fold.
    sql["psi_drift"] = """
        WITH cents AS (
            SELECT event_type AS grp,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), bk AS (
            SELECT grp, CASE WHEN c >= 0 THEN c // 2500
                             ELSE -((-c + 2499) // 2500) END AS b
            FROM cents
        ), bc AS (
            SELECT grp, b, CAST(count(*) AS BIGINT) AS cc
            FROM bk GROUP BY 1, 2
        ), spine AS (
            SELECT DISTINCT b FROM bc
        ), grps AS (
            SELECT DISTINCT grp FROM bc
        ), tbt AS (
            SELECT b, CAST(sum(cc) AS BIGINT) AS tb FROM bc GROUP BY 1
        ), tgt AS (
            SELECT grp, CAST(sum(cc) AS BIGINT) AS na FROM bc GROUP BY 1
        ), sc AS (
            SELECT CAST(sum(cc) AS BIGINT) AS nn,
                   CAST(count(DISTINCT b) AS BIGINT) AS bb
            FROM bc
        ), grid AS (
            SELECT g.grp, s.b, coalesce(bc.cc, 0) AS ca,
                   tbt.tb, tgt.na, sc.nn, sc.bb
            FROM grps g CROSS JOIN spine s
            LEFT JOIN bc ON bc.grp = g.grp AND bc.b = s.b
            JOIN tbt ON tbt.b = s.b
            JOIN tgt ON tgt.grp = g.grp
            CROSS JOIN sc
        ), terms AS (
            SELECT grp, b, na, nn, bb,
                   (CAST(ca + 1 AS DOUBLE) / CAST(na + bb AS DOUBLE)
                    - CAST(tb - ca + 1 AS DOUBLE)
                      / CAST(nn - na + bb AS DOUBLE))
                 * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + bb AS DOUBLE))
                      / (CAST(tb - ca + 1 AS DOUBLE)
                         / CAST(nn - na + bb AS DOUBLE))) AS t
            FROM grid
        )
        SELECT grp AS event_type, min(na) AS n,
               CAST(min(nn) - min(na) AS BIGINT) AS n_rest,
               min(bb) AS n_buckets,
               round(list_sum(list(t ORDER BY b)), 4) + 0 AS psi
        FROM terms GROUP BY grp ORDER BY event_type
    """
    # Weekday seasonality: exact counts + decimal sums; ratio of two
    # exact-component means in one fixed double expression.
    sql["weekday_seasonality"] = """
        WITH per AS (
            SELECT event_type,
                   (epoch_ms(ts) // 86400000 + 4) % 7 AS weekday,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(value AS DECIMAL(18,2))) AS sv
            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
            GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
                   sum(sv) AS tsv
            FROM per GROUP BY 1
        )
        SELECT per.event_type, weekday, n,
               round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 4) + 0
                 AS avg_value,
               round((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                     / (CAST(tsv AS DOUBLE) / CAST(tn AS DOUBLE)), 4) + 0
                 AS seasonality
        FROM per JOIN tot USING (event_type)
        ORDER BY event_type, weekday
    """
    # CUSUM: decimal cumsum is exact; the deviation doubles are
    # bit-identical, so the argmax ordering replays exactly.
    sql["cusum_changepoint"] = """
        WITH daily AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS day,
                   sum(CAST(value AS DECIMAL(18,2))) AS sv
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY 1, 2
        ), cum AS (
            SELECT grp, day,
                   CAST(row_number() OVER (PARTITION BY grp ORDER BY day)
                        AS BIGINT) AS t,
                   sum(sv) OVER (PARTITION BY grp ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS s
            FROM daily
        ), tot AS (
            SELECT grp, sum(sv) AS sn, CAST(count(*) AS BIGINT) AS n
            FROM daily GROUP BY 1
        ), ranked AS (
            SELECT cum.grp, day, n,
                   abs(CAST(s AS DOUBLE)
                       - (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                         * CAST(sn AS DOUBLE)) AS dev,
                   row_number() OVER (
                       PARTITION BY cum.grp
                       ORDER BY abs(CAST(s AS DOUBLE)
                                    - (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                                      * CAST(sn AS DOUBLE)) DESC,
                                day ASC) AS rn
            FROM cum JOIN tot USING (grp)
        )
        SELECT grp AS event_type, n AS n_days, day AS cp_day,
               round(dev, 4) + 0 AS max_dev
        FROM ranked WHERE rn = 1 ORDER BY event_type
    """
    # Dedup impact per source: the dedup_clusters transitive closure,
    # rolled up to source level.
    sql["dup_rate_by_source"] = f"""
        WITH RECURSIVE {_closure_cte}, cl AS (
            SELECT id AS doc_id FROM reach GROUP BY 1
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup,
               round(CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0
                                   END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 4) + 0 AS dup_rate
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
        GROUP BY d.source ORDER BY d.source
    """
    # Mann-Whitney U: doubled average ranks from the distinct-value
    # count table (exact integers), tie sum in HUGEINT, one fixed float
    # expression for the variance/z.
    sql["ranksum_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), vals AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1
        ), ranked AS (
            SELECT v, t,
                   CAST(2 * coalesce(sum(t) OVER (
                            ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) + t + 1 AS BIGINT) AS dr
            FROM vals
        ), ties AS (
            SELECT CAST(sum(t) AS BIGINT) AS n,
                   sum(CAST(t AS HUGEINT) * t * t - t) AS tsum
            FROM ranked
        ), per AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1,
                   CAST(sum(c * dr) AS BIGINT) AS r2
            FROM cells JOIN ranked USING (v) GROUP BY grp
        ), m AS (
            SELECT grp, n1, n, r2,
                   (CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                    / CAST(12 AS DOUBLE))
                 * ((CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))
                    - CAST(tsum AS DOUBLE)
                      / (CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))) AS var
            FROM per CROSS JOIN ties
        )
        SELECT grp AS event_type, n1 AS n,
               CAST(n - n1 AS BIGINT) AS n_rest,
               round(CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                     / CAST(2 AS DOUBLE), 4) AS u,
               round(CASE WHEN n >= 2 AND var > 0 THEN
                     (CAST(r2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE)
                      - CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                        / CAST(2 AS DOUBLE))
                     / sqrt(var) END, 4) + 0 AS z
        FROM m ORDER BY event_type
    """
    # Cliff's delta: the ranksum CTE machinery with the δ finisher —
    # exact integer u2 − n1·n2 difference, one double division.
    sql["cliffs_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), vals AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1
        ), ranked AS (
            SELECT v, t,
                   CAST(2 * coalesce(sum(t) OVER (
                            ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) + t + 1 AS BIGINT) AS dr
            FROM vals
        ), ties AS (
            SELECT CAST(sum(t) AS BIGINT) AS n FROM ranked
        ), per AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1,
                   CAST(sum(c * dr) AS BIGINT) AS r2
            FROM cells JOIN ranked USING (v) GROUP BY grp
        )
        SELECT grp AS event_type, n1 AS n,
               CAST(n - n1 AS BIGINT) AS n_rest,
               round(CASE WHEN n1 * (n - n1) > 0 THEN
                     CAST((r2 - n1 * (n1 + 1)) - n1 * (n - n1) AS DOUBLE)
                     / CAST(n1 * (n - n1) AS DOUBLE) END, 4) + 0 AS delta
        FROM per CROSS JOIN ties ORDER BY event_type
    """
    # Weekday-adjusted outliers: decimal daily totals; weekday medians,
    # residual median, and residual MAD are all exact two-rank order
    # statistics; the 3·MAD flag compares unrounded doubles.
    sql["weekday_outliers"] = """
        WITH daily AS (
            SELECT event_type AS grp,
                   epoch_ms(ts) // 86400000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS yd
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2
        ), d2 AS (
            SELECT grp, day, (day + 4) % 7 AS wd, yd FROM daily
        ), p1 AS (
            SELECT grp, wd, yd,
                   row_number() OVER (PARTITION BY grp, wd ORDER BY yd)
                       AS rn,
                   count(*) OVER (PARTITION BY grp, wd) AS n
            FROM d2
        ), prof AS (
            SELECT grp, wd, avg(yd) AS expected FROM p1
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1, 2
        ), resid AS (
            SELECT d2.grp, d2.day, d2.wd, d2.yd, prof.expected,
                   d2.yd - prof.expected AS r
            FROM d2 JOIN prof USING (grp, wd)
        ), m1 AS (
            SELECT grp, r,
                   row_number() OVER (PARTITION BY grp ORDER BY r) AS rn,
                   count(*) OVER (PARTITION BY grp) AS n
            FROM resid
        ), med AS (
            SELECT grp, avg(r) AS med_r FROM m1
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY grp
        ), devs AS (
            SELECT resid.grp, day, wd, yd, expected, r,
                   abs(resid.r - med.med_r) AS dev
            FROM resid JOIN med USING (grp)
        ), m2 AS (
            SELECT grp, dev,
                   row_number() OVER (PARTITION BY grp ORDER BY dev) AS rn,
                   count(*) OVER (PARTITION BY grp) AS n
            FROM devs
        ), mad AS (
            SELECT grp, avg(dev) AS mad_r FROM m2
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY grp
        )
        SELECT devs.grp AS event_type, day, wd AS weekday,
               round(yd, 2) + 0 AS y,
               round(expected, 4) + 0 AS expected,
               round(r, 4) + 0 AS residual
        FROM devs JOIN mad USING (grp)
        WHERE dev > CAST(3 AS DOUBLE) * mad_r
        ORDER BY event_type, day
    """
    # Theil T: cent cells, exact n/Σx, μ one double division; the term
    # fold replays in ascending cent order (ln parity = token_entropy).
    sql["theil_value"] = """
        WITH base AS (
            SELECT event_type AS grp,
                   CAST(value AS DECIMAL(18,2)) AS xd
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
              AND CAST(value AS DECIMAL(18,2)) > 0
        ), cent AS (
            SELECT grp, xd, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), agg AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n, sum(xd * c) AS sx
            FROM cent GROUP BY grp
        ), terms AS (
            SELECT cent.grp, xd,
                   (CAST(c AS DOUBLE)
                    * (CAST(xd AS DOUBLE)
                       / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
                 * ln(CAST(xd AS DOUBLE)
                      / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS t
            FROM cent JOIN agg USING (grp)
        )
        SELECT agg.grp AS event_type, n,
               round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean,
               round(f.s / CAST(n AS DOUBLE), 4) + 0 AS theil
        FROM agg JOIN (
            SELECT grp, list_sum(list(t ORDER BY xd)) AS s
            FROM terms GROUP BY grp
        ) f USING (grp)
        ORDER BY event_type
    """
    # Mutual information: the chi2_weekday contingency CTEs with MI
    # terms; the cell sum and both marginal entropies replay as
    # list_sum(list(... ORDER BY)) folds (ln parity = token_entropy
    # precedent).
    sql["mi_weekday"] = """
        WITH base AS (
            SELECT event_type AS r,
                   (epoch_ms(ts) // 86400000 + 4) % 7 AS c
            FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
            SELECT r, c, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY r, c
        ), rt AS (
            SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r
        ), ct AS (
            SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c
        ), tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS tn FROM cells
        ), terms AS (
            SELECT cells.r, cells.c,
                   (CAST(o AS DOUBLE) / CAST(tn AS DOUBLE))
                 * ln(CAST(o AS DOUBLE) * CAST(tn AS DOUBLE)
                      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))) AS t
            FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
        ), mi AS (
            SELECT list_sum(list(t ORDER BY r, c)) AS mi_raw FROM terms
        ), hr AS (
            SELECT list_sum(list(
                       -(CAST(rt AS DOUBLE) / CAST(tn AS DOUBLE))
                       * ln(CAST(rt AS DOUBLE) / CAST(tn AS DOUBLE))
                       ORDER BY r)) AS h
            FROM rt CROSS JOIN tot
        ), hc AS (
            SELECT list_sum(list(
                       -(CAST(ct AS DOUBLE) / CAST(tn AS DOUBLE))
                       * ln(CAST(ct AS DOUBLE) / CAST(tn AS DOUBLE))
                       ORDER BY c)) AS h
            FROM ct CROSS JOIN tot
        ), dims AS (
            SELECT CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_cols
            FROM cells
        )
        SELECT tn AS n, n_rows, n_cols,
               round(mi_raw, 4) + 0 AS mi,
               round(hr.h, 4) + 0 AS h_row,
               round(hc.h, 4) + 0 AS h_col,
               round(CASE WHEN hr.h > 0 AND hc.h > 0 THEN
                     mi_raw / sqrt(hr.h * hc.h) END, 4) + 0 AS nmi
        FROM tot CROSS JOIN dims CROSS JOIN mi
        CROSS JOIN hr CROSS JOIN hc
    """
    # Cramér-von Mises: exact integer D = cum1·n2 − cum2·n1 per pooled
    # value over the same grid; one v-ordered fold per group.
    sql["cvm_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), pooled AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS l FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(l) AS BIGINT) AS n_tot FROM pooled
        ), sizes AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1 FROM cells GROUP BY 1
        ), grid AS (
            SELECT s.grp, s.n1, p.v, p.l, coalesce(c.c, 0) AS cf
            FROM sizes s CROSS JOIN pooled p
            LEFT JOIN cells c ON c.grp = s.grp AND c.v = p.v
        ), m AS (
            SELECT grp, n1, v, l,
                   CAST(sum(cf) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum1,
                   CAST(sum(l) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cump
            FROM grid
        ), terms AS (
            SELECT grp, n1, v, n_tot,
                   CAST(l AS DOUBLE) AS ld,
                   CAST(cum1 AS HUGEINT) * (n_tot - n1)
                     - CAST(cump - cum1 AS HUGEINT) * n1 AS d
            FROM m CROSS JOIN tot
        ), folds AS (
            SELECT grp, n1, n_tot,
                   list_sum(list(
                       ld * CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
                       ORDER BY v)) AS s
            FROM terms GROUP BY 1, 2, 3
        )
        SELECT grp AS event_type, n1 AS n,
               CAST(n_tot - n1 AS BIGINT) AS n_rest,
               round(CASE WHEN n1 > 0 AND n_tot > n1 THEN
                     s / (CAST(n1 AS DOUBLE) * CAST(n_tot - n1 AS DOUBLE)
                          * CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE))
                     END, 4) + 0 AS w2
        FROM folds ORDER BY event_type
    """
    # Anderson-Darling A²akN: doubled midranks over the groups×values
    # grid; every term is a ratio of exact HUGEINT integers; one
    # v-ordered fold per group (the complement's T = −T cancels).
    sql["ad_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), pooled AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS l FROM cells GROUP BY 1
        ), prk AS (
            SELECT v, l,
                   CAST(2 * coalesce(sum(l) OVER (
                            ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) + l AS BIGINT) AS b2
            FROM pooled
        ), tot AS (
            SELECT CAST(sum(l) AS BIGINT) AS n_tot,
                   CAST(count(*) AS BIGINT) AS n_vals
            FROM pooled
        ), sizes AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1 FROM cells GROUP BY 1
        ), grid AS (
            SELECT s.grp, s.n1, p.v, p.l, p.b2, coalesce(c.c, 0) AS cf
            FROM sizes s CROSS JOIN prk p
            LEFT JOIN cells c ON c.grp = s.grp AND c.v = p.v
        ), m AS (
            SELECT grp, n1, v, l, b2,
                   CAST(2 * coalesce(sum(cf) OVER (
                            PARTITION BY grp ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) + cf AS BIGINT) AS m2
            FROM grid
        ), terms AS (
            SELECT m.grp, m.n1, v,
                   CAST(l AS HUGEINT) AS ld,
                   CAST(n_tot AS HUGEINT) * m2
                     - CAST(n1 AS HUGEINT) * b2 AS t1,
                   CAST(b2 AS HUGEINT) * (2 * n_tot - b2)
                     - CAST(n_tot AS HUGEINT) * l AS d2,
                   n_tot, n_vals
            FROM m CROSS JOIN tot
        ), folds AS (
            SELECT grp, n1, n_tot, n_vals,
                   list_sum(list(
                       CASE WHEN d2 > 0 THEN
                           CAST(ld AS DOUBLE) * CAST(t1 AS DOUBLE)
                           * CAST(t1 AS DOUBLE) / CAST(d2 AS DOUBLE)
                       ELSE CAST(0 AS DOUBLE) END
                       ORDER BY v)) AS s
            FROM terms GROUP BY 1, 2, 3, 4
        )
        SELECT grp AS event_type, n1 AS n,
               CAST(n_tot - n1 AS BIGINT) AS n_rest,
               round(CASE WHEN n_vals > 1 AND n1 > 0 AND n_tot > n1 THEN
                     ((CAST(n_tot AS DOUBLE) - CAST(1 AS DOUBLE))
                      / CAST(n_tot AS DOUBLE))
                     * ((s / CAST(n_tot AS DOUBLE)) / CAST(n1 AS DOUBLE)
                        + (s / CAST(n_tot AS DOUBLE))
                          / CAST(n_tot - n1 AS DOUBLE)) END, 4) + 0
                   AS a2
        FROM folds ORDER BY event_type
    """
    # Cramér's V: the chi2_weekday CTE block + the effect-size select
    # over the ALREADY-ROUNDED chi2 (both engines compose identical
    # rounded inputs).
    sql["cramers_weekday"] = """
        WITH base AS (
            SELECT event_type AS r,
                   (epoch_ms(ts) // 86400000 + 4) % 7 AS c
            FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        ), cells AS (
            SELECT r, c, CAST(count(*) AS BIGINT) AS o
            FROM base GROUP BY r, c
        ), rt AS (
            SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r
        ), ct AS (
            SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c
        ), tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS tn FROM cells
        ), terms AS (
            SELECT cells.r, cells.c, o,
                   (CAST(o AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(tn AS DOUBLE))
                 * (CAST(o AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(tn AS DOUBLE))
                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                    / CAST(tn AS DOUBLE)) AS t,
                   CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                     / CAST(tn AS DOUBLE) AS e
            FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
        ), rep AS (
            SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
                   CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1)
                        AS BIGINT) AS dof,
                   round(list_sum(list(t ORDER BY r, c))
                         + (CAST(sum(o) AS DOUBLE)
                            - list_sum(list(e ORDER BY r, c))), 4) + 0
                     AS chi2
            FROM terms
        )
        SELECT n, n_rows, n_cols, dof, chi2,
               round(CASE WHEN least(n_rows - 1, n_cols - 1) > 0 AND n > 0
                          AND chi2 IS NOT NULL THEN
                     sqrt(chi2 / (CAST(n AS DOUBLE)
                          * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)))
                     END, 4) + 0 AS v
        FROM rep
    """
    # Two-sample KS: exact integer |i·n2 − j·n1| max over the groups ×
    # distinct-values grid; argmax pinned by (d DESC, v ASC).
    sql["ks_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), vals AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY 1
        ), pts AS (
            SELECT v, CAST(sum(g) OVER (
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cum_all
            FROM vals
        ), grps AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1 FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
        ), grid AS (
            SELECT g.grp, p.v, g.n1, p.cum_all,
                   coalesce(cells.c, 0) AS c
            FROM grps g CROSS JOIN pts p
            LEFT JOIN cells ON cells.grp = g.grp AND cells.v = p.v
        ), cum AS (
            SELECT grp, v, n1, cum_all,
                   CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS i
            FROM grid
        ), scored AS (
            SELECT grp, v, n1, n,
                   abs(CAST(i AS HUGEINT) * (n - n1)
                       - CAST(cum_all - i AS HUGEINT) * n1) AS dnum
            FROM cum CROSS JOIN tot
        ), best AS (
            SELECT grp, v, n1, n, dnum,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY dnum DESC, v ASC) AS rn
            FROM scored
        )
        SELECT grp AS event_type, n1 AS n,
               CAST(n - n1 AS BIGINT) AS n_rest,
               round(CASE WHEN n > n1 THEN CAST(dnum AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)) END, 4)
                 AS ks_d,
               v AS at_value
        FROM best WHERE rn = 1 ORDER BY event_type
    """
    # ks_daily: the ks_value machinery with the tz-free day index as
    # the group — per-day shape-drift trend.
    sql["ks_daily"] = """
        WITH base AS (
            SELECT epoch_ms(ts) // 86400000 AS grp, CAST(value AS DOUBLE) AS v
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), vals AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY 1
        ), pts AS (
            SELECT v, CAST(sum(g) OVER (
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cum_all
            FROM vals
        ), grps AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1 FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
        ), grid AS (
            SELECT g.grp, p.v, g.n1, p.cum_all,
                   coalesce(cells.c, 0) AS c
            FROM grps g CROSS JOIN pts p
            LEFT JOIN cells ON cells.grp = g.grp AND cells.v = p.v
        ), cum AS (
            SELECT grp, v, n1, cum_all,
                   CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS i
            FROM grid
        ), scored AS (
            SELECT grp, v, n1, n,
                   abs(CAST(i AS HUGEINT) * (n - n1)
                       - CAST(cum_all - i AS HUGEINT) * n1) AS dnum
            FROM cum CROSS JOIN tot
        ), best AS (
            SELECT grp, v, n1, n, dnum,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY dnum DESC, v ASC) AS rn
            FROM scored
        )
        SELECT grp AS day, n1 AS n,
               CAST(n - n1 AS BIGINT) AS n_rest,
               round(CASE WHEN n > n1 THEN CAST(dnum AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)) END, 4)
                 AS ks_d,
               v AS at_value
        FROM best WHERE rn = 1 ORDER BY day
    """
    # Gini: exact decimal Σx and tie-stable rank-weighted Σi·x; one
    # fixed double combination.
    sql["gini_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DECIMAL(18,2)) AS x
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
              AND value >= 0
        ), ranked AS (
            SELECT grp, x,
                   CAST(row_number() OVER (PARTITION BY grp ORDER BY x)
                        AS BIGINT) AS i
            FROM base
        ), agg AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n,
                   sum(x) AS sx,
                   sum(CAST(i AS DECIMAL(18,0)) * x) AS six
            FROM ranked GROUP BY grp
        )
        SELECT grp AS event_type, n,
               round(CAST(sx AS DOUBLE), 2) AS total,
               round(CASE WHEN sx > 0 THEN
                     (CAST(2 AS DOUBLE) * CAST(six AS DOUBLE)
                      - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                     END, 4) + 0 AS gini
        FROM agg ORDER BY event_type
    """
    # Winsorized mean: exact order-statistic bounds, decimal clamp+sums.
    sql["winsorized_value"] = """
        WITH base AS (
            SELECT event_type AS grp, CAST(value AS DECIMAL(18,2)) AS x
            FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        ), ranked AS (
            SELECT grp, x,
                   CAST(row_number() OVER (PARTITION BY grp ORDER BY x)
                        AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS nn
            FROM base
        ), bounds AS (
            SELECT grp,
                   min(CASE WHEN rn = greatest(1, (5 * nn + 99) // 100)
                            THEN x END) AS lo,
                   min(CASE WHEN rn = (95 * nn + 99) // 100
                            THEN x END) AS hi
            FROM ranked GROUP BY grp
        ), clamped AS (
            SELECT base.grp, x, lo, hi,
                   least(greatest(x, lo), hi) AS w
            FROM base JOIN bounds ON bounds.grp = base.grp
        )
        SELECT grp AS event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(lo) AS DOUBLE) AS lo,
               CAST(min(hi) AS DOUBLE) AS hi,
               round(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
                 + 0 AS mean,
               round(CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
                 + 0 AS wins_mean
        FROM clamped GROUP BY grp ORDER BY event_type
    """
    # Kendall tau-b on the quantized (value bucket, hour) cell table:
    # exact integer concordance counts, HUGEINT pair counts.
    sql["kendall_value_hour"] = """
        WITH cents AS (
            SELECT event_type AS grp,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                   ts
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
              AND ts IS NOT NULL
        ), base AS (
            SELECT grp,
                   CASE WHEN c >= 0 THEN c // 2500
                        ELSE -((-c + 2499) // 2500) END AS x,
                   (epoch_ms(ts) // 3600000) % 24 AS y
            FROM cents
        ), cells AS (
            SELECT grp, x, y, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2, 3
        ), cd AS (
            SELECT a.grp,
                   sum(CASE WHEN a.y < b.y
                       THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE CAST(0 AS HUGEINT) END) AS cc,
                   sum(CASE WHEN a.y > b.y
                       THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE CAST(0 AS HUGEINT) END) AS dd
            FROM cells a JOIN cells b
              ON a.grp = b.grp AND a.x < b.x
            GROUP BY a.grp
        ), xm AS (
            SELECT grp, x, CAST(sum(c) AS BIGINT) AS tx
            FROM cells GROUP BY 1, 2
        ), ym AS (
            SELECT grp, y, CAST(sum(c) AS BIGINT) AS ty
            FROM cells GROUP BY 1, 2
        ), t1 AS (
            SELECT grp, sum(CAST(tx AS HUGEINT) * (tx - 1)) // 2 AS n1
            FROM xm GROUP BY grp
        ), t2 AS (
            SELECT grp, sum(CAST(ty AS HUGEINT) * (ty - 1)) // 2 AS n2
            FROM ym GROUP BY grp
        ), nn AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY grp
        ), j AS (
            SELECT nn.grp, n,
                   coalesce(cc, CAST(0 AS HUGEINT)) AS cc,
                   coalesce(dd, CAST(0 AS HUGEINT)) AS dd,
                   (CAST(n AS HUGEINT) * (n - 1)) // 2 AS n0,
                   n1, n2
            FROM nn LEFT JOIN cd ON cd.grp = nn.grp
            JOIN t1 ON t1.grp = nn.grp
            JOIN t2 ON t2.grp = nn.grp
        )
        SELECT grp AS event_type, n,
               CAST(cc AS BIGINT) AS concordant,
               CAST(dd AS BIGINT) AS discordant,
               round(CASE WHEN n0 > n1 AND n0 > n2 THEN
                     CAST(cc - dd AS DOUBLE)
                     / sqrt(CAST(n0 - n1 AS DOUBLE)
                            * CAST(n0 - n2 AS DOUBLE)) END, 4) + 0 AS tau
        FROM j ORDER BY event_type
    """
    # Exact tau-b: the oracle re-derives Knight's integers (C, D, tie
    # pair counts) with an rn-ordered O(n²) pair join — order-free
    # statistics, so any correct exact computation matches the engine's
    # merge-sort inversion count bit-for-bit.  y = epoch_us (engine uses
    # epoch-ns: tau invariant under the monotone ×1000).
    sql["kendall_exact"] = """
        WITH pts AS (
            SELECT event_type AS grp, value AS x, epoch_us(ts) AS y,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, epoch_us(ts)) AS rn
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
              AND ts IS NOT NULL AND NOT isnan(value)
        ), pair AS (
            SELECT a.grp,
                   CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                              OR (a.x > b.x AND a.y > b.y)
                            THEN 1 ELSE 0 END) AS BIGINT) AS cc,
                   CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                              OR (a.x > b.x AND a.y < b.y)
                            THEN 1 ELSE 0 END) AS BIGINT) AS dd,
                   CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
                        AS BIGINT) AS t1,
                   CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
                        AS BIGINT) AS t2,
                   CAST(count(*) AS BIGINT) AS n0
            FROM pts a JOIN pts b ON a.grp = b.grp AND a.rn < b.rn
            GROUP BY a.grp
        ), cnt AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n
            FROM pts GROUP BY grp
        )
        SELECT cnt.grp AS event_type, n,
               coalesce(cc, 0) AS concordant,
               coalesce(dd, 0) AS discordant,
               round(CASE WHEN n0 > t1 AND n0 > t2 THEN
                     CAST(cc - dd AS DOUBLE)
                     / sqrt(CAST(n0 - t1 AS DOUBLE)
                            * CAST(n0 - t2 AS DOUBLE)) END, 4) + 0 AS tau
        FROM cnt LEFT JOIN pair ON pair.grp = cnt.grp
        ORDER BY event_type
    """
    # KL(source ‖ corpus) over unigrams: exact integer ratios inside
    # each term; the float sum replays as a token-sorted list fold.
    sql["kl_sources"] = r"""
        WITH tk AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT source, tk, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2
        ), gcnt AS (
            SELECT tk, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells
        ), g AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   list(struct_pack(c := c, ct := ct, nn := nn)
                        ORDER BY tk) AS cl
            FROM cells JOIN gcnt USING (tk) CROSS JOIN tot
            GROUP BY source
        )
        SELECT source, n_tokens, n_distinct,
               round(list_sum(list_apply(cl,
                   x -> (CAST(x.c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                        * ln((CAST(x.c AS DOUBLE)
                              / CAST(n_tokens AS DOUBLE))
                             / (CAST(x.ct AS DOUBLE)
                                / CAST(x.nn AS DOUBLE))))), 4) + 0 AS kl
        FROM g ORDER BY source
    """
    # Per-day PSI vs the complement of all other days: the psi_drift
    # machinery with the tz-free integer day index as the group.
    sql["psi_daily"] = """
        WITH cents AS (
            SELECT epoch_ms(ts) // 86400000 AS grp,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), bk AS (
            SELECT grp, CASE WHEN c >= 0 THEN c // 2500
                             ELSE -((-c + 2499) // 2500) END AS b
            FROM cents
        ), bc AS (
            SELECT grp, b, CAST(count(*) AS BIGINT) AS cc
            FROM bk GROUP BY 1, 2
        ), spine AS (
            SELECT DISTINCT b FROM bc
        ), grps AS (
            SELECT DISTINCT grp FROM bc
        ), tbt AS (
            SELECT b, CAST(sum(cc) AS BIGINT) AS tb FROM bc GROUP BY 1
        ), tgt AS (
            SELECT grp, CAST(sum(cc) AS BIGINT) AS na FROM bc GROUP BY 1
        ), sc AS (
            SELECT CAST(sum(cc) AS BIGINT) AS nn,
                   CAST(count(DISTINCT b) AS BIGINT) AS bb
            FROM bc
        ), grid AS (
            SELECT g.grp, s.b, coalesce(bc.cc, 0) AS ca,
                   tbt.tb, tgt.na, sc.nn, sc.bb
            FROM grps g CROSS JOIN spine s
            LEFT JOIN bc ON bc.grp = g.grp AND bc.b = s.b
            JOIN tbt ON tbt.b = s.b
            JOIN tgt ON tgt.grp = g.grp
            CROSS JOIN sc
        ), terms AS (
            SELECT grp, b, na, nn, bb,
                   (CAST(ca + 1 AS DOUBLE) / CAST(na + bb AS DOUBLE)
                    - CAST(tb - ca + 1 AS DOUBLE)
                      / CAST(nn - na + bb AS DOUBLE))
                 * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + bb AS DOUBLE))
                      / (CAST(tb - ca + 1 AS DOUBLE)
                         / CAST(nn - na + bb AS DOUBLE))) AS t
            FROM grid
        )
        SELECT CAST(grp AS BIGINT) AS day, min(na) AS n,
               CAST(min(nn) - min(na) AS BIGINT) AS n_rest,
               min(bb) AS n_buckets,
               round(list_sum(list(t ORDER BY b)), 4) + 0 AS psi
        FROM terms GROUP BY grp ORDER BY day
    """
    # Seasonal strength: every moment exact DECIMAL; the per-phase
    # remainder terms fold in phase order (list_sum ORDER BY ≡ the
    # engine's array_sort+aggregate left fold).
    sql["seasonal_strength"] = """
        WITH daily AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS y
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2
        ), cells AS (
            SELECT grp, day % 7 AS phase,
                   CAST(count(*) AS BIGINT) AS nw,
                   sum(y) AS sw, sum(y * y) AS ssq
            FROM daily GROUP BY 1, 2
        ), terms AS (
            SELECT grp, phase, nw, sw, ssq,
                   CAST(ssq AS DOUBLE)
                   - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                     / CAST(nw AS DOUBLE) AS t
            FROM cells
        ), g AS (
            SELECT grp, CAST(sum(nw) AS BIGINT) AS n_days,
                   sum(sw) AS s, sum(ssq) AS q,
                   list_sum(list(t ORDER BY phase)) AS ssw
            FROM terms GROUP BY 1
        ), fin AS (
            SELECT grp, n_days, ssw,
                   CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(n_days AS DOUBLE) AS sst
            FROM g
        )
        SELECT grp AS event_type, n_days,
               round(sst, 4) + 0 AS sst,
               round(ssw, 4) + 0 AS ssw,
               round(CASE WHEN sst > 0 THEN
                     greatest(CAST(0 AS DOUBLE),
                              CAST(1 AS DOUBLE) - ssw / sst) END, 4)
                 AS strength
        FROM fin ORDER BY event_type
    """
    # ACF over the gap-filled daily series: exact decimal paired
    # moments; one fixed double Pearson expression, guards before sqrt.
    sql["acf_daily"] = """
        WITH daily AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS y
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2
        ), bounds AS (
            SELECT min(day) AS d0, max(day) AS d1 FROM daily
        ), grid AS (
            SELECT g.grp, t.day
            FROM (SELECT DISTINCT grp FROM daily) g
            CROSS JOIN bounds,
                 unnest(generate_series(bounds.d0, bounds.d1)) AS t(day)
        ), spine AS (
            SELECT grid.grp, grid.day,
                   COALESCE(d.y, CAST('0.00' AS DECIMAL(18,2))) AS y
            FROM grid
            LEFT JOIN daily d ON d.grp = grid.grp AND d.day = grid.day
        ), lags AS (
            SELECT CAST(l AS BIGINT) AS lag
            FROM unnest(generate_series(1, 7)) AS s(l)
        ), m AS (
            SELECT a.grp, lag, CAST(count(*) AS BIGINT) AS n,
                   sum(a.y) AS sa, sum(bb.y) AS sb,
                   sum(a.y * a.y) AS saa, sum(bb.y * bb.y) AS sbb,
                   sum(a.y * bb.y) AS sab
            FROM spine a CROSS JOIN lags
            JOIN spine bb ON bb.grp = a.grp AND bb.day = a.day + lag
            GROUP BY 1, 2
        ), fin AS (
            SELECT grp, lag, n,
                   CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS num,
                   CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS dena,
                   CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS denb
            FROM m
        )
        SELECT grp AS event_type, lag, n AS n_pairs,
               round(CASE WHEN dena > 0 AND denb > 0
                     THEN num / sqrt(dena * denb) END, 4) + 0 AS acf
        FROM fin ORDER BY event_type, lag
    """
    # Wilson interval: exact counts in, one fixed double expression out.
    sql["wilson_high_value"] = """
        WITH agg AS (
            SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)
                        AS BIGINT) AS s
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
            GROUP BY 1
        ), parts AS (
            SELECT grp, n, s,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                   CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) AS z2,
                   CAST(n AS DOUBLE) AS nd
            FROM agg
        ), iv AS (
            SELECT grp, n, s, p,
                   (p + z2 / (CAST(2 AS DOUBLE) * nd))
                   / (CAST(1 AS DOUBLE) + z2 / nd) AS center,
                   CAST('1.96' AS DOUBLE)
                   * sqrt(p * (CAST(1 AS DOUBLE) - p) / nd
                          + z2 / (CAST(4 AS DOUBLE) * nd * nd))
                   / (CAST(1 AS DOUBLE) + z2 / nd) AS half
            FROM parts
        )
        SELECT grp AS event_type, n, s AS successes,
               round(p, 4) AS rate,
               round(center - half, 4) + 0 AS lo,
               round(center + half, 4) AS hi
        FROM iv ORDER BY event_type
    """
    # Pairwise JSD: shared-token pair terms + closed-form ln2 remainder;
    # all three per-pair float reductions replay as token-ordered folds.
    sql["jsd_sources"] = r"""
        WITH tk AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT source, tk, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2
        ), totals AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n
            FROM cells GROUP BY 1
        ), pr AS (
            SELECT x.tk AS tk, x.source AS a, x.c AS ca,
                   y.source AS b, y.c AS cb
            FROM cells x JOIN cells y
              ON x.tk = y.tk AND x.source < y.source
        ), terms AS (
            SELECT a, b, tk,
                   CAST(ca AS DOUBLE) / CAST(na.n AS DOUBLE) AS p,
                   CAST(cb AS DOUBLE) / CAST(nb.n AS DOUBLE) AS q
            FROM pr
            JOIN totals na ON na.source = pr.a
            JOIN totals nb ON nb.source = pr.b
        ), t2 AS (
            SELECT a, b, tk, p, q,
                   p * ln(CAST(2 AS DOUBLE) * p / (p + q))
                   + q * ln(CAST(2 AS DOUBLE) * q / (p + q)) AS t
            FROM terms
        ), g AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_shared,
                   list_sum(list(t ORDER BY tk)) AS ts,
                   list_sum(list(p ORDER BY tk)) AS sp,
                   list_sum(list(q ORDER BY tk)) AS sq
            FROM t2 GROUP BY 1, 2
        )
        SELECT a AS group_a, b AS group_b, n_shared,
               round(CAST('0.5' AS DOUBLE) * ts
                     + CAST('0.5' AS DOUBLE) * ln(CAST(2 AS DOUBLE))
                       * ((CAST(1 AS DOUBLE) - sp)
                          + (CAST(1 AS DOUBLE) - sq)), 4) + 0 AS jsd
        FROM g ORDER BY group_a, group_b
    """
    # Kendall drift matrix: zero-filled source × vocabulary spine, then
    # the kendall_value_hour tau-b cell machinery keyed by the pair.
    sql["kendall_matrix"] = r"""
        WITH toks AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT g, tk, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ), grid AS (
            SELECT g, tk FROM (SELECT DISTINCT g FROM cells)
            CROSS JOIN (SELECT DISTINCT tk FROM cells)
        ), filled AS (
            SELECT grid.g, grid.tk,
                   coalesce(cells.c, CAST(0 AS BIGINT)) AS c
            FROM grid LEFT JOIN cells
              ON grid.g = cells.g AND grid.tk = cells.tk
        ), obs AS (
            SELECT a.g AS ga, b.g AS gb, a.c AS x, b.c AS y
            FROM filled a JOIN filled b
              ON a.tk = b.tk AND a.g < b.g
        ), kc AS (
            SELECT ga, gb, x, y, CAST(count(*) AS BIGINT) AS c
            FROM obs GROUP BY 1, 2, 3, 4
        ), cd AS (
            SELECT a.ga, a.gb,
                   sum(CASE WHEN a.y < b.y
                       THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE CAST(0 AS HUGEINT) END) AS cc,
                   sum(CASE WHEN a.y > b.y
                       THEN CAST(a.c AS HUGEINT) * b.c
                       ELSE CAST(0 AS HUGEINT) END) AS dd
            FROM kc a JOIN kc b
              ON a.ga = b.ga AND a.gb = b.gb AND a.x < b.x
            GROUP BY 1, 2
        ), xm AS (
            SELECT ga, gb, x, CAST(sum(c) AS BIGINT) AS tx
            FROM kc GROUP BY 1, 2, 3
        ), ym AS (
            SELECT ga, gb, y, CAST(sum(c) AS BIGINT) AS ty
            FROM kc GROUP BY 1, 2, 3
        ), t1 AS (
            SELECT ga, gb, sum(CAST(tx AS HUGEINT) * (tx - 1)) // 2 AS n1
            FROM xm GROUP BY 1, 2
        ), t2 AS (
            SELECT ga, gb, sum(CAST(ty AS HUGEINT) * (ty - 1)) // 2 AS n2
            FROM ym GROUP BY 1, 2
        ), nn AS (
            SELECT ga, gb, CAST(sum(c) AS BIGINT) AS n
            FROM kc GROUP BY 1, 2
        ), j AS (
            SELECT nn.ga, nn.gb, n,
                   coalesce(cc, CAST(0 AS HUGEINT)) AS cc,
                   coalesce(dd, CAST(0 AS HUGEINT)) AS dd,
                   (CAST(n AS HUGEINT) * (n - 1)) // 2 AS n0, n1, n2
            FROM nn LEFT JOIN cd ON cd.ga = nn.ga AND cd.gb = nn.gb
            JOIN t1 ON t1.ga = nn.ga AND t1.gb = nn.gb
            JOIN t2 ON t2.ga = nn.ga AND t2.gb = nn.gb
        )
        SELECT ga AS group_a, gb AS group_b, n AS n_tokens,
               CAST(cc AS BIGINT) AS concordant,
               CAST(dd AS BIGINT) AS discordant,
               round(CASE WHEN n0 > n1 AND n0 > n2 THEN
                     CAST(cc - dd AS DOUBLE)
                     / sqrt(CAST(n0 - n1 AS DOUBLE)
                            * CAST(n0 - n2 AS DOUBLE)) END, 4) + 0 AS tau
        FROM j ORDER BY group_a, group_b
    """
    # Cross-group daily correlation on the shared gap-filled spine:
    # exact decimal moments, the acf_daily Pearson shape per pair.
    sql["xcorr_daily"] = """
        WITH daily AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS y
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2
        ), bounds AS (
            SELECT min(day) AS d0, max(day) AS d1 FROM daily
        ), grid AS (
            SELECT g.grp, t.day
            FROM (SELECT DISTINCT grp FROM daily) g
            CROSS JOIN bounds,
                 unnest(generate_series(bounds.d0, bounds.d1)) AS t(day)
        ), spine AS (
            SELECT grid.grp, grid.day,
                   COALESCE(d.y, CAST('0.00' AS DECIMAL(18,2))) AS y
            FROM grid
            LEFT JOIN daily d ON d.grp = grid.grp AND d.day = grid.day
        ), pg AS (
            SELECT grp, sum(y) AS s, sum(y * y) AS ss
            FROM spine GROUP BY 1
        ), pairs AS (
            SELECT x.grp AS a, y.grp AS b, CAST(count(*) AS BIGINT) AS n,
                   sum(x.y * y.y) AS sab
            FROM spine x JOIN spine y
              ON x.day = y.day AND x.grp < y.grp
            GROUP BY 1, 2
        ), fin AS (
            SELECT a, b, n,
                   CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                   - CAST(pa.s AS DOUBLE) * CAST(pb.s AS DOUBLE) AS num,
                   CAST(n AS DOUBLE) * CAST(pa.ss AS DOUBLE)
                   - CAST(pa.s AS DOUBLE) * CAST(pa.s AS DOUBLE) AS dena,
                   CAST(n AS DOUBLE) * CAST(pb.ss AS DOUBLE)
                   - CAST(pb.s AS DOUBLE) * CAST(pb.s AS DOUBLE) AS denb
            FROM pairs
            JOIN pg pa ON pa.grp = pairs.a
            JOIN pg pb ON pb.grp = pairs.b
        )
        SELECT a AS group_a, b AS group_b, n AS n_days,
               round(CASE WHEN dena > 0 AND denb > 0
                     THEN num / sqrt(dena * denb) END, 4) + 0 AS corr
        FROM fin ORDER BY group_a, group_b
    """
    # Church-Gale burstiness: exact BIGINT moments absorb the zero docs
    # in closed form; two fixed double ratios.
    sql["token_burstiness"] = r"""
        WITH base AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), nd AS (
            SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS d FROM base
        ), tk AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM base
        ), cells AS (
            SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2
        ), agg AS (
            SELECT tk, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(c) AS BIGINT) AS total,
                   CAST(sum(c * c) AS BIGINT) AS sq
            FROM cells GROUP BY 1 HAVING count(*) >= 16
        )
        SELECT tk AS token, df, total,
               round((CAST(d AS DOUBLE) * CAST(sq AS DOUBLE)
                      - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
                     / (CAST(d AS DOUBLE) * CAST(total AS DOUBLE)), 4)
                 + 0 AS vmr,
               round(CAST(total AS DOUBLE) / CAST(df AS DOUBLE), 4)
                 AS burst
        FROM agg CROSS JOIN nd ORDER BY token
    """
    # Inter-arrival gaps: exact integer differences; median/p90 via
    # row_number rank selection (tie-invariant selected values);
    # integer ranks via flooring division on positive operands.
    sql["interarrival"] = """
        WITH base AS (
            SELECT event_type AS grp, user_id AS k, epoch_ms(ts) AS ts,
                   event_id
            FROM events
            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL
        ), gaps AS (
            SELECT grp,
                   ts - lag(ts) OVER (PARTITION BY grp, k
                                      ORDER BY ts, event_id) AS gap
            FROM base
        ), g2 AS (
            SELECT grp, gap FROM gaps WHERE gap IS NOT NULL
        ), ranked AS (
            SELECT grp, gap,
                   row_number() OVER (PARTITION BY grp ORDER BY gap) AS rn
            FROM g2
        ), counts AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(gap) AS BIGINT) AS s
            FROM g2 GROUP BY 1
        ), med AS (
            SELECT r.grp,
                   CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
            FROM ranked r JOIN counts c ON r.grp = c.grp
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY 1
        ), p90 AS (
            SELECT r.grp, gap AS p
            FROM ranked r JOIN counts c ON r.grp = c.grp
            WHERE rn = (9 * n + 9) // 10
        )
        SELECT counts.grp AS event_type, n AS n_gaps,
               round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_gap,
               round(m, 4) AS median_gap,
               CAST(p AS BIGINT) AS p90_gap
        FROM counts
        JOIN med ON med.grp = counts.grp
        JOIN p90 ON p90.grp = counts.grp
        ORDER BY event_type
    """
    # Mann-Kendall + Theil-Sen: exact integer S and tie sums (HUGEINT
    # variance products), exact decimal pair diffs, order-statistic
    # median slope (tie-invariant selected values).
    sql["robust_trend"] = """
        WITH daily AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS y
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2
        ), pr AS (
            SELECT a.grp AS grp, a.day AS da, a.y AS ya, b.day AS db,
                   b.y AS yb
            FROM daily a JOIN daily b
              ON a.grp = b.grp AND a.day < b.day
        ), pairs AS (
            SELECT grp,
                   CASE WHEN yb > ya THEN 1
                        WHEN yb < ya THEN -1 ELSE 0 END AS sg,
                   CAST(yb - ya AS DOUBLE) / CAST(db - da AS DOUBLE) AS sl
            FROM pr
        ), stat AS (
            SELECT grp, CAST(sum(sg) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS np
            FROM pairs GROUP BY 1
        ), ties AS (
            SELECT grp, CAST(sum(t) AS BIGINT) AS n,
                   sum(CAST(t AS HUGEINT) * CAST(t - 1 AS HUGEINT)
                       * CAST(2 * t + 5 AS HUGEINT)) AS tsum
            FROM (SELECT grp, y, CAST(count(*) AS BIGINT) AS t
                  FROM daily GROUP BY 1, 2)
            GROUP BY 1
        ), ranked AS (
            SELECT p.grp AS grp, sl,
                   row_number() OVER (PARTITION BY p.grp ORDER BY sl)
                     AS rn,
                   np
            FROM pairs p JOIN stat ON stat.grp = p.grp
        ), sen AS (
            SELECT grp, sum(sl) / CAST(count(*) AS DOUBLE) AS sen_raw
            FROM ranked
            WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
            GROUP BY 1
        ), fin AS (
            SELECT stat.grp AS grp, n, s, sen_raw,
                   CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)
                        * CAST(2 * n + 5 AS HUGEINT) - tsum AS DOUBLE)
                   / CAST(18 AS DOUBLE) AS var
            FROM stat
            JOIN ties ON ties.grp = stat.grp
            JOIN sen ON sen.grp = stat.grp
        )
        SELECT grp AS event_type, n AS n_days, s,
               round(CASE WHEN var > 0 THEN
                     CASE WHEN s > 0
                          THEN (CAST(s AS DOUBLE) - CAST(1 AS DOUBLE))
                               / sqrt(var)
                          WHEN s < 0
                          THEN (CAST(s AS DOUBLE) + CAST(1 AS DOUBLE))
                               / sqrt(var)
                          ELSE CAST(0 AS DOUBLE) END END, 4) + 0 AS z,
               round(sen_raw, 4) + 0 AS sen_slope
        FROM fin ORDER BY event_type
    """
    # Holt double-exponential smoothing.  NOT list_reduce: DuckDB 1.0
    # struct-literal lambdas alias acc.field references to the UPDATED
    # value across fields (probed: {'w': acc.u, 'u': acc.u + x.u} gives
    # w = the new u), so two-state folds corrupt silently.  The
    # recursive CTE carries (l, b) as plain columns — the pagerank
    # replay machinery — and steps one day per iteration.
    sql["holt_daily"] = """
        WITH RECURSIVE daily AS (
            SELECT event_type AS grp, epoch_ms(ts) // 86400000 AS day,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS y
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL
            GROUP BY 1, 2
        ), bounds AS (
            SELECT min(day) AS d0, max(day) AS d1 FROM daily
        ), grid AS (
            SELECT g.grp, t.day
            FROM (SELECT DISTINCT grp FROM daily) g
            CROSS JOIN bounds,
                 unnest(generate_series(bounds.d0, bounds.d1)) AS t(day)
        ), spine AS (
            SELECT grid.grp, grid.day,
                   COALESCE(d.y, CAST('0.00' AS DECIMAL(18,2))) AS y
            FROM grid
            LEFT JOIN daily d ON d.grp = grid.grp AND d.day = grid.day
        ), g AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n_days,
                   list(CAST(y AS DOUBLE) ORDER BY day) AS ys
            FROM spine GROUP BY 1
        ), r AS (
            SELECT grp, n_days, ys, CAST(1 AS BIGINT) AS i,
                   ys[1] AS l, CAST(0 AS DOUBLE) AS b
            FROM g
            UNION ALL
            SELECT grp, n_days, ys, i + 1,
                   CAST('0.5' AS DOUBLE) * ys[i + 1]
                   + (CAST(1 AS DOUBLE) - CAST('0.5' AS DOUBLE))
                     * (l + b),
                   CAST('0.3' AS DOUBLE)
                   * ((CAST('0.5' AS DOUBLE) * ys[i + 1]
                       + (CAST(1 AS DOUBLE) - CAST('0.5' AS DOUBLE))
                         * (l + b)) - l)
                   + (CAST(1 AS DOUBLE) - CAST('0.3' AS DOUBLE)) * b
            FROM r WHERE i < n_days
        )
        SELECT grp AS event_type, n_days,
               round(l, 4) + 0 AS level,
               round(b, 4) + 0 AS trend,
               round(l + b, 4) + 0 AS forecast
        FROM r WHERE i = n_days ORDER BY event_type
    """
    # Classifier calibration: the quality_classifier score CTE joined
    # to the quality_rules passes CTE, exact decile bucketing (the
    # doc_length_deciles formula over distinct scores), Wilson per
    # bucket (the wilson_high_value expression shape).
    # Shared classifier-score + rule-gate label CTE block (used by
    # score_calibration AND classifier_auc — one copy, so a rule or
    # scorer change cannot desynchronize their oracles).
    _qc_lab_ctes = f"""{_tok_cte}, sc0 AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   round(CASE WHEN len(t) = 0 THEN 0.1
                         ELSE 0.1 + list_sum(list_apply(t, x -> {_qcw})) / len(t)
                         END, 4) + 0 AS score
            FROM tok
        ), qbase AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_words,
                   round(CASE WHEN len(t) = 0 THEN 0.0
                         ELSE CAST(list_sum(list_apply(t, x -> length(x))) AS DOUBLE) / len(t)
                         END, 4) AS mean_word_len,
                   round(CASE WHEN len(t) = 0 THEN 0.0
                         ELSE CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                         END, 4) AS frac_unique_words,
                   CAST(len(list_filter(t, x -> list_contains({_sw_list}, lower(x)))) AS BIGINT)
                       AS stopword_hits
            FROM tok
        ), bi AS (
            SELECT doc_id, len(t) AS n, t[i] || ' ' || t[i + 1] AS bigram
            FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
        ), topbg AS (
            SELECT doc_id,
                   round(CAST(2 * max(c) AS DOUBLE) / n, 4) AS top_bigram_frac
            FROM (SELECT doc_id, bigram, n, count(*) AS c FROM bi GROUP BY 1, 2, 3)
            GROUP BY doc_id, n
        ), lab AS (
            SELECT b.doc_id,
                   (n_words >= 30 AND n_words <= 100000
                    AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                    AND frac_unique_words >= 0.30 AND stopword_hits >= 1
                    AND COALESCE(top_bigram_frac, 0.0) <= 0.10) AS passes
            FROM qbase b LEFT JOIN topbg USING (doc_id)
        )"""
    sql["score_calibration"] = f"""
        WITH {_qc_lab_ctes}, joined AS (
            SELECT sc0.score, lab.passes
            FROM sc0 JOIN lab ON sc0.doc_id = lab.doc_id
            WHERE sc0.score IS NOT NULL AND lab.passes IS NOT NULL
        ), dsc AS (
            SELECT score AS s, CAST(count(*) AS BIGINT) AS c
            FROM joined GROUP BY 1
        ), bmap AS (
            SELECT s,
                   CAST(least(
                       (10 * coalesce(CAST(sum(c) OVER (
                            ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) AS BIGINT), 0))
                       // CAST(sum(c) OVER () AS BIGINT),
                       9) AS BIGINT) AS bucket
            FROM dsc
        ), agg AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END)
                        AS BIGINT) AS s,
                   min(score) AS min_score, max(score) AS max_score
            FROM joined JOIN bmap ON joined.score = bmap.s
            GROUP BY 1
        ), parts AS (
            SELECT bucket, n, s, min_score, max_score,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                   CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) AS z2,
                   CAST(n AS DOUBLE) AS nd
            FROM agg
        ), iv AS (
            SELECT bucket, n, s, min_score, max_score, p,
                   (p + z2 / (CAST(2 AS DOUBLE) * nd))
                   / (CAST(1 AS DOUBLE) + z2 / nd) AS center,
                   CAST('1.96' AS DOUBLE)
                   * sqrt(p * (CAST(1 AS DOUBLE) - p) / nd
                          + z2 / (CAST(4 AS DOUBLE) * nd * nd))
                   / (CAST(1 AS DOUBLE) + z2 / nd) AS half
            FROM parts
        )
        SELECT bucket, n, s AS successes,
               round(p, 4) AS rate,
               round(center - half, 4) + 0 AS lo,
               round(center + half, 4) AS hi,
               min_score, max_score
        FROM iv ORDER BY bucket
    """
    # Jaccard threshold sweep: the dedup_ngram_jaccard pair CTE at the
    # lowest threshold, swept over exact threshold literals; unrounded
    # ratio compares exactly as each independent run would.
    sql["dedup_sweep"] = r"""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        ), cp AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), jp AS (
            SELECT id_a, id_b,
                   inter::DOUBLE / (s1.n + s2.n - inter) AS j
            FROM cp
            JOIN sizes s1 ON id_a = s1.doc_id
            JOIN sizes s2 ON id_b = s2.doc_id
            WHERE inter::DOUBLE / (s1.n + s2.n - inter)
                  >= CAST('0.5' AS DOUBLE)
        ), ths AS (
            SELECT unnest([CAST('0.5' AS DOUBLE), CAST('0.6' AS DOUBLE),
                           CAST('0.7' AS DOUBLE), CAST('0.8' AS DOUBLE),
                           CAST('0.9' AS DOUBLE)]) AS threshold
        ), q AS (
            SELECT threshold, id_a, id_b
            FROM jp CROSS JOIN ths WHERE j >= threshold
        ), stats AS (
            SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
            FROM q GROUP BY 1
        ), docs_t AS (
            SELECT threshold,
                   CAST(count(DISTINCT d) AS BIGINT) AS n_docs
            FROM (SELECT threshold, id_a AS d FROM q
                  UNION ALL SELECT threshold, id_b FROM q)
            GROUP BY 1
        ), total AS (
            SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_total
            FROM documents WHERE doc_id IS NOT NULL
        )
        SELECT ths.threshold,
               CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
               round(CAST(coalesce(n_docs, 0) AS DOUBLE)
                     / CAST(n_total AS DOUBLE), 4) AS dup_rate
        FROM ths
        LEFT JOIN stats ON stats.threshold = ths.threshold
        LEFT JOIN docs_t ON docs_t.threshold = ths.threshold
        CROSS JOIN total
        ORDER BY ths.threshold
    """
    # Classifier AUC: the ranksum_value rank machinery with
    # label-as-group over the classifier score; AUC = U+/(n+ * n-),
    # the rounded exact half-integer U divided once (engine shape).
    sql["classifier_auc"] = f"""
        WITH {_qc_lab_ctes}, base AS (
            SELECT lab.passes AS grp, sc0.score AS v
            FROM sc0 JOIN lab ON sc0.doc_id = lab.doc_id
            WHERE lab.passes IS NOT NULL AND sc0.score IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), vals AS (
            SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1
        ), ranked AS (
            SELECT v, t,
                   CAST(2 * coalesce(sum(t) OVER (
                            ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) + t + 1 AS BIGINT) AS dr
            FROM vals
        ), tot AS (
            SELECT CAST(sum(t) AS BIGINT) AS n FROM ranked
        ), per AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n1,
                   CAST(sum(c * dr) AS BIGINT) AS r2
            FROM cells JOIN ranked USING (v) GROUP BY grp
        ), fin AS (
            SELECT n1, CAST(n - n1 AS BIGINT) AS n0,
                   round(CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                         / CAST(2 AS DOUBLE), 4) AS u
            FROM per CROSS JOIN tot WHERE grp = true
        )
        SELECT n1 AS n_pos, n0 AS n_neg,
               round(CASE WHEN n1 > 0 AND n0 > 0 THEN
                     u / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) END, 4)
                 AS auc
        FROM fin
    """
    # classifier_ap: step-interpolated average precision (sklearn
    # semantics) — exact integer threshold cells + cumulative TP/N from
    # the score-desc window, then ONE score-descending list_sum fold of
    # the (ΔR·P) double terms (matches the engine's reverse(array_sort)
    # + aggregate left fold; 0.0-init == first-element-init since every
    # term is ≥ 0).
    sql["classifier_ap"] = f"""
        WITH {_qc_lab_ctes}, base AS (
            SELECT sc0.score AS s,
                   CASE WHEN lab.passes THEN 1 ELSE 0 END AS y
            FROM sc0 JOIN lab ON sc0.doc_id = lab.doc_id
            WHERE sc0.score IS NOT NULL AND lab.passes IS NOT NULL
        ), apcells AS (
            SELECT s, CAST(sum(y) AS BIGINT) AS pos,
                   CAST(count(*) AS BIGINT) AS tot
            FROM base GROUP BY s
        ), apcum AS (
            SELECT s, pos, tot,
                   CAST(sum(pos) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS tp,
                   CAST(sum(tot) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS nn
            FROM apcells
        ), apagg AS (
            SELECT CAST(coalesce(sum(pos), 0) AS BIGINT) AS r_tot,
                   CAST(coalesce(sum(tot), 0) AS BIGINT) AS n_tot,
                   CAST(count(*) AS BIGINT) AS n_thresholds,
                   list(struct_pack(pos := pos, tp := tp, nn := nn)
                        ORDER BY s DESC) AS arr
            FROM apcum
        )
        SELECT r_tot AS n_pos, CAST(n_tot - r_tot AS BIGINT) AS n_neg,
               n_thresholds,
               round(CASE WHEN r_tot > 0 THEN
                     list_sum(list_apply(arr, x ->
                         (CAST(x.pos AS DOUBLE) / CAST(r_tot AS DOUBLE))
                         * (CAST(x.tp AS DOUBLE) / CAST(x.nn AS DOUBLE))))
               END, 4) AS ap
        FROM apagg
    """
    # Cohen's kappa between the classifier gate and the rule gate: the
    # contingency-cell algebra with exact BIGINT counts, the chance
    # mass Σ rt·ct in DECIMAL(38,0), and ONE double division
    # (n·agree − pe_num)/(n² − pe_num) — the engine's kappa_from_cells
    # shape exactly.
    sql["gate_kappa"] = f"""
        WITH {_qc_lab_ctes}, j AS (
            SELECT (sc0.score >= CAST('0.1' AS DOUBLE)) AS r,
                   lab.passes AS c
            FROM sc0 JOIN lab ON sc0.doc_id = lab.doc_id
            WHERE sc0.score IS NOT NULL AND lab.passes IS NOT NULL
        ), cells AS (
            SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM j GROUP BY 1, 2
        ), rt AS (
            SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1
        ), ct AS (
            SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1
        ), pe AS (
            SELECT coalesce(
                CAST(sum(CAST(rt AS DECIMAL(19,0)) * CAST(ct AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)),
                CAST(0 AS DECIMAL(38,0))) AS pe_num
            FROM rt JOIN ct ON rt.r = ct.c
        ), g AS (
            SELECT CAST(coalesce(sum(o), 0) AS BIGINT) AS n,
                   CAST(coalesce(sum(CASE WHEN r = c THEN o ELSE 0 END), 0)
                        AS BIGINT) AS agree,
                   CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_cols
            FROM cells
        )
        SELECT n, n_rows, n_cols,
               round(CASE WHEN n > 0 THEN
                     CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) END, 4) + 0
                 AS po,
               round(CASE WHEN n > 0 THEN
                     CAST(pe_num AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END, 4) + 0
                 AS pe,
               round(CASE WHEN n > 0
                          AND (CAST(n AS DECIMAL(19,0))
                               * CAST(n AS DECIMAL(19,0)) - pe_num) > 0 THEN
                     CAST(CAST(n AS DECIMAL(19,0)) * CAST(agree AS DECIMAL(19,0))
                          - pe_num AS DOUBLE)
                     / CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                            - pe_num AS DOUBLE) END, 4) + 0 AS kappa
        FROM g CROSS JOIN pe
    """
    # Calibration cells shared by ECE and the Brier decomposition: the
    # 4dp score squashed by the fixed affine clamp, fixed-width decile
    # bins, exact counts + the exact DECIMAL(18,4) probability sum.
    _cal_cells_ctes = f"""{_qc_lab_ctes}, cal AS (
            SELECT least(greatest(sc0.score + CAST('0.5' AS DOUBLE),
                                  CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) AS p,
                   lab.passes AS y
            FROM sc0 JOIN lab ON sc0.doc_id = lab.doc_id
            WHERE sc0.score IS NOT NULL AND lab.passes IS NOT NULL
        ), cells AS (
            SELECT CAST(least(greatest(floor(p * CAST(10 AS DOUBLE)),
                                       CAST(0 AS DOUBLE)),
                              CAST(9 AS DOUBLE)) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                   sum(CAST(p AS DECIMAL(18,4))) AS psum
            FROM cal GROUP BY 1
        )"""
    sql["calibration_ece"] = f"""
        WITH {_cal_cells_ctes}, tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS tn FROM cells
        ), terms AS (
            SELECT bucket,
                   abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                       - CAST(psum AS DOUBLE) / CAST(n AS DOUBLE)) AS gap,
                   (CAST(n AS DOUBLE) / CAST(tn AS DOUBLE))
                   * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                         - CAST(psum AS DOUBLE) / CAST(n AS DOUBLE)) AS term
            FROM cells CROSS JOIN tot
        ), g AS (
            SELECT CAST(count(*) AS BIGINT) AS n_bins,
                   CASE WHEN count(*) > 0
                        THEN list_sum(list(term ORDER BY bucket)) END AS e,
                   max(gap) AS m
            FROM terms
        )
        SELECT tn AS n, n_bins,
               round(e, 4) + 0 AS ece,
               round(m, 4) + 0 AS mce
        FROM g CROSS JOIN tot
    """
    sql["calibration_brier"] = f"""
        WITH {_cal_cells_ctes}, tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS tn,
                   CAST(sum(pos) AS BIGINT) AS tp
            FROM cells
        ), base AS (
            SELECT bucket,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
                   CAST(psum AS DOUBLE) / CAST(n AS DOUBLE) AS conf,
                   CAST(tn AS DOUBLE) AS tnd,
                   CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE) AS yb
            FROM cells CROSS JOIN tot
        ), terms AS (
            SELECT bucket, yb,
                   (nd / tnd) * (conf - acc) * (conf - acc) AS rel_t,
                   (nd / tnd) * (acc - yb) * (acc - yb) AS res_t
            FROM base
        ), g AS (
            SELECT CAST(count(*) AS BIGINT) AS n_bins,
                   max(yb) AS yb,
                   CASE WHEN count(*) > 0
                        THEN list_sum(list(rel_t ORDER BY bucket)) END AS rl,
                   CASE WHEN count(*) > 0
                        THEN list_sum(list(res_t ORDER BY bucket)) END AS rs
            FROM terms
        )
        SELECT tn AS n, n_bins,
               round(yb, 4) + 0 AS ybar,
               round(rl, 4) + 0 AS rel,
               round(rs, 4) + 0 AS res,
               round(yb * (CAST(1 AS DOUBLE) - yb), 4) + 0 AS unc
        FROM g CROSS JOIN tot
    """
    # Hill tail index: the ranksum_value distinct-value cell table,
    # the (k+1)-th-largest threshold by descending integer cumulative
    # count, one c·ln(v/u) term per cell above it, ascending-v fold.
    sql["hill_tail"] = """
        WITH cells AS (
            SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
                   CAST(count(*) AS BIGINT) AS c
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
            GROUP BY 1, 2
        ), pos AS (
            SELECT * FROM cells WHERE v > 0
        ), ranked AS (
            SELECT grp, v, c,
                   CAST(sum(c) OVER (
                        PARTITION BY grp ORDER BY v DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cumd
            FROM pos
        ), thr AS (
            SELECT grp, max(v) AS threshold
            FROM ranked WHERE cumd >= 101 GROUP BY 1
        ), n AS (
            SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM pos GROUP BY 1
        ), terms AS (
            SELECT p.grp, p.v,
                   CAST(p.c AS DOUBLE) * ln(p.v / t.threshold) AS t
            FROM pos p JOIN thr t ON p.grp = t.grp
            WHERE p.v > t.threshold
        ), s AS (
            SELECT grp, list_sum(list(t ORDER BY v)) AS s
            FROM terms GROUP BY 1
        )
        SELECT n.grp AS event_type, n.n, CAST(100 AS BIGINT) AS k,
               thr.threshold,
               round(CASE WHEN s.s > 0
                     THEN CAST(100 AS DOUBLE) / s.s END, 4) + 0 AS alpha
        FROM n
        LEFT JOIN thr ON n.grp = thr.grp
        LEFT JOIN s ON n.grp = s.grp
        ORDER BY event_type
    """
    # Daily new/returning users: exact integer counting — per-user
    # min-day, per-day distinct, integer cumulative window over days.
    sql["user_novelty"] = """
        WITH base AS (
            SELECT user_id AS k, epoch_ms(ts) // 86400000 AS day
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ), fst AS (
            SELECT k, min(day) AS first_day FROM base GROUP BY 1
        ), active AS (
            SELECT day, CAST(count(DISTINCT k) AS BIGINT) AS n_active
            FROM base GROUP BY 1
        ), nw AS (
            SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
            FROM fst GROUP BY 1
        )
        SELECT a.day, a.n_active,
               CAST(coalesce(nw.n_new, 0) AS BIGINT) AS n_new,
               CAST(a.n_active - coalesce(nw.n_new, 0) AS BIGINT)
                 AS n_returning,
               CAST(sum(coalesce(nw.n_new, 0)) OVER (
                    ORDER BY a.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM active a LEFT JOIN nw ON a.day = nw.day
        ORDER BY a.day
    """
    # Embedding drift matrix: the embedding_covariance fold machinery —
    # per-(label, dim) id-ordered Σx/Σx² folds, the identical μ/σ
    # expression trees, pair terms summed in dimension order.
    sql["embedding_drift"] = """
        WITH v AS (
            SELECT vec_id, label,
                   list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
            WHERE label IS NOT NULL AND embedding IS NOT NULL
        ), gc AS (
            SELECT label AS g, CAST(count(*) AS BIGINT) AS nv
            FROM v GROUP BY 1
        ), ex AS (
            SELECT * FROM (
                SELECT label AS g, vec_id, generate_subscripts(e, 1) AS pos,
                       unnest(e) AS x
                FROM v
            ) WHERE x IS NOT NULL
        ), mom AS (
            SELECT g, pos, CAST(count(*) AS BIGINT) AS n,
                   list_sum(list(x ORDER BY vec_id)) AS s,
                   list_sum(list(x * x ORDER BY vec_id)) AS s2
            FROM ex GROUP BY 1, 2
        ), st AS (
            SELECT g, pos, n,
                   s / CAST(n AS DOUBLE) AS mu,
                   CASE WHEN s2 / CAST(n AS DOUBLE)
                             - (s / CAST(n AS DOUBLE))
                               * (s / CAST(n AS DOUBLE)) > 0
                        THEN sqrt(s2 / CAST(n AS DOUBLE)
                                  - (s / CAST(n AS DOUBLE))
                                    * (s / CAST(n AS DOUBLE)))
                        ELSE CAST(0 AS DOUBLE) END AS sd
            FROM mom
        ), pr AS (
            SELECT a.g AS ga, b.g AS gb, a.pos,
                   (a.mu - b.mu) * (a.mu - b.mu)
                   + (a.sd - b.sd) * (a.sd - b.sd) AS t
            FROM st a JOIN st b ON a.pos = b.pos AND a.g < b.g
        ), agg AS (
            SELECT ga, gb, list_sum(list(t ORDER BY pos)) AS d2
            FROM pr GROUP BY 1, 2
        )
        SELECT ga AS group_a, gb AS group_b,
               ca.nv AS n_a, cb.nv AS n_b,
               round(d2, 6) + 0 AS dist2,
               round(sqrt(d2), 6) + 0 AS dist
        FROM agg
        JOIN gc ca ON agg.ga = ca.g
        JOIN gc cb ON agg.gb = cb.g
        ORDER BY group_a, group_b
    """
    # Cluster-size histogram over the SAME recursive closure the
    # dedup_clusters oracle uses — exact integer two-level counting.
    sql["dup_cluster_sizes"] = f"""
        WITH RECURSIVE {_closure_cte}, cl AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
        ), csz AS (
            SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM cl GROUP BY 1
        )
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(cluster_size) AS BIGINT) AS n_docs
        FROM csz GROUP BY 1 ORDER BY 1
    """
    # RBO drift matrix: exact count rankings (count DESC, token ASC),
    # geometric weights as PYTHON floats emitted identically on both
    # engines (the random_projection literal discipline), depth terms
    # summed in ascending-d order.
    _rbo_w = ", ".join(
        f"CAST('{(1.0 - 0.9) * 0.9 ** (d - 1)!r}' AS DOUBLE)"
        for d in range(1, 21)
    )
    sql["rbo_sources"] = rf"""
        WITH toks AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT g, tk, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ), ranked AS (
            SELECT g, tk,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY c DESC, tk ASC) AS rn
            FROM cells
        ), arrs AS (
            SELECT g, list(tk ORDER BY rn) AS arr
            FROM ranked WHERE rn <= 20 GROUP BY 1
        ), pr AS (
            SELECT a.g AS ga, b.g AS gb, a.arr AS aa, b.arr AS ba
            FROM arrs a JOIN arrs b ON a.g < b.g
        )
        SELECT ga AS group_a, gb AS group_b, CAST(20 AS BIGINT) AS k,
               round(list_sum(list_transform(range(1, 21), d ->
                   wl[d] * (CAST(len(list_intersect(aa[1:d], ba[1:d]))
                                 AS DOUBLE) / CAST(d AS DOUBLE)))), 4) + 0
                 AS rbo
        FROM pr CROSS JOIN (SELECT [{_rbo_w}] AS wl)
        ORDER BY group_a, group_b
    """
    # OOV rate: global top-k vocabulary by exact counts, per-source
    # occurrence split, one double division.
    sql["oov_rates"] = r"""
        WITH toks AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT g, tk, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ), gtot AS (
            SELECT tk, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1
        ), vocab AS (
            SELECT tk FROM (
                SELECT tk, row_number() OVER (ORDER BY ct DESC, tk ASC) AS rn
                FROM gtot
            ) WHERE rn <= 20
        )
        SELECT g AS source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.tk IS NULL THEN c ELSE 0 END)
                    AS BIGINT) AS n_oov,
               round(CAST(sum(CASE WHEN v.tk IS NULL THEN c ELSE 0 END)
                          AS DOUBLE)
                     / CAST(sum(c) AS DOUBLE), 4) + 0 AS oov_rate
        FROM cells LEFT JOIN vocab v USING (tk)
        GROUP BY 1 ORDER BY 1
    """
    # Burrows' Delta: zero-filled spine frequencies, group-ordered
    # mean/sd folds with the sqrt guard, token-ordered pair folds —
    # the engine's expression trees written out verbatim.
    sql["burrows_delta"] = r"""
        WITH toks AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT g, tk, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ), gtot AS (
            SELECT tk, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1
        ), vocab AS (
            SELECT tk FROM (
                SELECT tk, row_number() OVER (ORDER BY ct DESC, tk ASC) AS rn
                FROM gtot
            ) WHERE rn <= 50
        ), nv AS (
            SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM vocab
        ), totals AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1
        ), filled AS (
            SELECT t.g, v.tk,
                   CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(t.n AS DOUBLE)
                     AS f
            FROM totals t
            CROSS JOIN vocab v
            LEFT JOIN cells c ON c.g = t.g AND c.tk = v.tk
        ), st AS (
            SELECT tk, CAST(count(*) AS BIGINT) AS ng,
                   list_sum(list(f ORDER BY g)) AS s1,
                   list_sum(list(f * f ORDER BY g)) AS s2
            FROM filled GROUP BY 1
        ), stat AS (
            SELECT tk,
                   s1 / CAST(ng AS DOUBLE) AS mu,
                   CASE WHEN ng > 1
                             AND (s2 / CAST(ng AS DOUBLE)
                                  - (s1 / CAST(ng AS DOUBLE))
                                    * (s1 / CAST(ng AS DOUBLE)))
                                 * (CAST(ng AS DOUBLE)
                                    / (CAST(ng AS DOUBLE)
                                       - CAST(1 AS DOUBLE))) > 0
                        THEN sqrt((s2 / CAST(ng AS DOUBLE)
                                   - (s1 / CAST(ng AS DOUBLE))
                                     * (s1 / CAST(ng AS DOUBLE)))
                                  * (CAST(ng AS DOUBLE)
                                     / (CAST(ng AS DOUBLE)
                                        - CAST(1 AS DOUBLE))))
                        ELSE CAST(0 AS DOUBLE) END AS sd
            FROM st
        ), z AS (
            SELECT f.g, f.tk,
                   CASE WHEN s.sd > 0 THEN (f.f - s.mu) / s.sd
                        ELSE CAST(0 AS DOUBLE) END AS z
            FROM filled f JOIN stat s ON f.tk = s.tk
        ), pr AS (
            SELECT a.g AS ga, b.g AS gb, a.tk,
                   abs(a.z - b.z) AS t
            FROM z a JOIN z b ON a.tk = b.tk AND a.g < b.g
        ), agg AS (
            SELECT ga, gb, list_sum(list(t ORDER BY tk)) AS s
            FROM pr GROUP BY 1, 2
        )
        SELECT ga AS group_a, gb AS group_b, n_vocab,
               round(s / CAST(n_vocab AS DOUBLE), 4) + 0 AS delta
        FROM agg CROSS JOIN nv
        ORDER BY group_a, group_b
    """
    # Containment pairs: the dedup_sweep shingle/pair machinery with
    # min-denominator containment and the exact integer threshold.
    sql["dedup_containment"] = f"""
        WITH {_shingle_cp_cte()}
        SELECT id_a, id_b, inter,
               round(CAST(inter AS DOUBLE)
                     / CAST(least(s1.n, s2.n) AS DOUBLE), 4) AS containment,
               CASE WHEN s1.n < s2.n THEN id_a ELSE id_b END AS contained_id
        FROM cp
        JOIN sizes s1 ON id_a = s1.doc_id
        JOIN sizes s2 ON id_b = s2.doc_id
        WHERE inter * 1000000 >= least(s1.n, s2.n) * 600000
        ORDER BY id_a, id_b
    """
    # source_dup_matrix: exact-Jaccard pairs at 0.5 (float compare
    # mirrors the engine's verify), endpoints mapped to sources,
    # (least, greatest) normalization, integer pair counts
    sql["source_dup_matrix"] = f"""
        WITH {_shingle_pair_cte(
            "inter::DOUBLE / (s1.n + s2.n - inter) >= 0.5"
        )}
        SELECT least(da.source, db.source) AS group_a,
               greatest(da.source, db.source) AS group_b,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM jp
        JOIN documents da ON jp.id_a = da.doc_id
        JOIN documents db ON jp.id_b = db.doc_id
        GROUP BY 1, 2
        ORDER BY group_a NULLS LAST, group_b NULLS LAST
    """
    # memorization_risk: the dedup_substring winnowing pair table (md5
    # path), both directions unioned, per-doc partner/agreement counts
    sql["memorization_risk"] = f"""
        WITH {_WINNOW_FP_CTE}, prs AS (
            {_WINNOW_PAIRS_SELECT}
        ), both_dirs AS (
            SELECT doc_a AS doc_id, shared_fps FROM prs
            UNION ALL
            SELECT doc_b, shared_fps FROM prs
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_partners,
               CAST(sum(shared_fps) AS BIGINT) AS shared_fps_total
        FROM both_dirs
        GROUP BY doc_id
        ORDER BY doc_id
    """
    # vocab_coverage: per-group rank/cumsum over the (count DESC,
    # token ASC) total order, exact integer threshold cum*100 >= pct*n
    sql["vocab_coverage"] = r"""
        WITH tk AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), cells AS (
            SELECT source, tk, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2
        ), ranked AS (
            SELECT source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, tk ASC) AS rk,
                   sum(c) OVER (PARTITION BY source
                                ORDER BY c DESC, tk ASC
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM cells
        ), tot AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size
            FROM cells GROUP BY 1
        ), px AS (SELECT unnest([50, 90, 99]) AS pct)
        SELECT r.source AS source, CAST(px.pct AS BIGINT) AS pct,
               CAST(min(r.rk) AS BIGINT) AS tokens_needed,
               t.vocab_size, t.total_tokens
        FROM ranked r
        JOIN tot t ON r.source = t.source
        CROSS JOIN px
        WHERE r.cum * 100 >= px.pct * t.total_tokens
        GROUP BY r.source, px.pct, t.vocab_size, t.total_tokens
        ORDER BY source, pct
    """
    # curation_funnel: one count per stage of the shared curation CTE
    # chain, then the identical lag arithmetic over the 4 stage rows
    sql["curation_funnel"] = f"""
        WITH {_CURATION_STAGES_CTE}, counts(stage_idx, stage, n) AS (
            SELECT 0, 'input', (SELECT count(*) FROM documents)
            UNION ALL
            SELECT 1, 'exact_dedup', (SELECT count(*) FROM dedup)
            UNION ALL
            SELECT 2, 'near_dedup', (SELECT count(*) FROM kept)
            UNION ALL
            SELECT 3, 'quality',
                   (SELECT count(*) FROM scored
                    WHERE quality >= 0.3 AND n_tokens >= 5)
        )
        SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
               CAST(n AS BIGINT) AS n_docs,
               CAST(coalesce(lag(n) OVER (ORDER BY stage_idx) - n, 0)
                    AS BIGINT) AS n_dropped,
               CASE WHEN lag(n) OVER (ORDER BY stage_idx) > 0 THEN
                    round((lag(n) OVER (ORDER BY stage_idx) - n)::DOUBLE
                          / lag(n) OVER (ORDER BY stage_idx), 4)
               END AS drop_pct
        FROM counts
        ORDER BY stage_idx
    """
    # ivf_recall / lsh_recall: compose the existing ANN oracles verbatim
    # (one source of truth for each path), then the per-query hit count
    def _recall_sql(approx_sql: str) -> str:
        return f"""
        WITH brute AS ({sql["ann_topk_bruteforce"]}),
             apx AS ({approx_sql})
        SELECT b.query_id,
               CAST(count(*) AS BIGINT) AS n_brute,
               CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(sum(CASE WHEN i.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 4) AS recall
        FROM brute b
        LEFT JOIN apx i ON b.query_id = i.query_id
                       AND b.neighbor_id = i.neighbor_id
        GROUP BY b.query_id
        ORDER BY b.query_id
    """

    sql["ivf_recall"] = _recall_sql(sql["ann_topk_ivf"])
    sql["lsh_recall"] = _recall_sql(sql["ann_topk_lsh"])
    # r11: the PQ-family audits — same composed template, the declared
    # pq_adc_topk / ivfadc_topk oracles verbatim as the approx CTE
    sql["pq_recall"] = _recall_sql(sql["pq_adc_topk"])
    sql["ivfadc_recall"] = _recall_sql(sql["ivfadc_topk"])

    # log_odds_tokens: the Monroe informative-Dirichlet log-odds z —
    # exact count margins, α_w = α₀·ct/N, one pinned odds/variance
    # expression, rank on the ROUNDED z (tie-break token).
    _lo_a0 = "CAST('100.0' AS DOUBLE)"
    _lo_aw = f"({_lo_a0} * (CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE)))"
    _lo_y = "CAST(c AS DOUBLE)"
    _lo_yc = "(CAST(ct AS DOUBLE) - CAST(c AS DOUBLE))"
    _lo_ng = "CAST(ng AS DOUBLE)"
    _lo_nc = "(CAST(nn AS DOUBLE) - CAST(ng AS DOUBLE))"
    _lo_z = (
        f"(ln(({_lo_y} + {_lo_aw}) / ({_lo_ng} + {_lo_a0} - {_lo_y} - {_lo_aw}))"
        f" - ln(({_lo_yc} + {_lo_aw}) / ({_lo_nc} + {_lo_a0} - {_lo_yc} - {_lo_aw})))"
        f" / sqrt(CAST(1.0 AS DOUBLE) / ({_lo_y} + {_lo_aw})"
        f" + CAST(1.0 AS DOUBLE) / ({_lo_yc} + {_lo_aw}))"
    )
    _lo_cells = r"""lotk AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS tk
            FROM documents WHERE source IS NOT NULL
        ), locells AS (
            SELECT g, tk, CAST(count(*) AS BIGINT) AS c
            FROM lotk GROUP BY 1, 2
        )"""
    sql["log_odds_tokens"] = f"""
        WITH {_lo_cells}, logl AS (
            SELECT tk, CAST(sum(c) AS BIGINT) AS ct
            FROM locells GROUP BY 1
        ), logt AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS ng
            FROM locells GROUP BY 1
        ), lotot AS (
            SELECT CAST(sum(ng) AS BIGINT) AS nn FROM logt
        ), losc AS (
            SELECT locells.g, locells.tk,
                   round({_lo_z}, 4) + 0 AS z
            FROM locells
            JOIN logl USING (tk)
            JOIN logt USING (g), lotot
        )
        SELECT g AS source, tk AS token, z, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY g
                                         ORDER BY z DESC, tk) AS rank
            FROM losc)
        WHERE rank <= 5 ORDER BY source, rank
    """

    # token_diversity: Hill numbers — Shannon via the token-sorted
    # list_sum fold (engine 0.0-init fold identical since 0.0−t ≡ −t),
    # Σc² exact BIGINT, one division for ²D
    _td_p = "(CAST(x.c AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
    _td_h = (
        f"list_sum(list_apply(arr, x -> -{_td_p} * ln({_td_p})))"
    )
    sql["token_diversity"] = f"""
        WITH {_lo_cells}, tdg AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS richness,
                   CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2,
                   list(struct_pack(tk := tk, c := c) ORDER BY tk) AS arr
            FROM locells GROUP BY 1
        )
        SELECT g AS source, n_tokens, richness,
               round(exp({_td_h}), 4) AS hill1,
               round(CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE)
                     / CAST(c2 AS DOUBLE), 4) AS hill2,
               round(CASE WHEN richness > 1 THEN
                     {_td_h} / ln(CAST(richness AS DOUBLE)) END, 4)
                   AS evenness
        FROM tdg ORDER BY source
    """

    # km_conversion: Kaplan-Meier replay — per-user first-event /
    # first-purchase epoch-ms, administrative 72h censoring, exact
    # integer cells + at-risk windows, and the time-sorted prefix
    # product via list_reduce (1.0·f ≡ f, the ewma fold-parity family).
    sql["km_conversion"] = """
        WITH kev AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ms
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ), kpu AS (
            SELECT user_id, min(ms) AS f,
                   min(CASE WHEN event_type = 'purchase' THEN ms END) AS p
            FROM kev GROUP BY 1
        ), ktm AS (
            SELECT max(ms) AS tmax FROM kev
        ), krows AS (
            SELECT CASE WHEN p IS NOT NULL AND (p - f) // 3600000
                             <= least(72, (tmax - f) // 3600000)
                        THEN (p - f) // 3600000
                        ELSE least(72, (tmax - f) // 3600000) END AS dur,
                   (p IS NOT NULL AND (p - f) // 3600000
                        <= least(72, (tmax - f) // 3600000)) AS obs
            FROM kpu, ktm
        ), kcells AS (
            SELECT dur AS t,
                   CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                       AS d,
                   CAST(sum(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT)
                       AS c
            FROM krows GROUP BY 1
        ), krisked AS (
            SELECT t, d, c,
                   CAST(sum(d + c) OVER ()
                        - coalesce(sum(d + c) OVER (ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
            FROM kcells
        ), kdeath AS (
            SELECT t, n_risk, d, c,
                   CAST(1.0 AS DOUBLE)
                   - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
            FROM krisked WHERE d > 0
        ), kg AS (
            SELECT list(struct_pack(t := t, n_risk := n_risk, d := d,
                                    c := c, factor := factor)
                        ORDER BY t) AS arr
            FROM kdeath
        )
        , kidx AS (
            SELECT arr, generate_subscripts(arr, 1) AS i FROM kg
        )
        SELECT arr[i].t AS t, arr[i].n_risk AS n_risk,
               arr[i].d AS n_death, arr[i].c AS n_censor,
               round(list_reduce(list_apply(arr[1:i], x -> x.factor),
                                 (a, b) -> a * b), 4) AS surv
        FROM kidx
        ORDER BY t
    """

    # minhash_fidelity: full signature replay on the md5 path — per-slot
    # 24-bit digest heads reconstructed nibble-wise, min per doc, band
    # bucket = the concatenated slot string (no hash — exact grouping),
    # candidates via the self-join on (band, bucket), exact Jaccard from
    # the shared toks/sh/sizes/cp CTE prefix.
    _mf_p = 64
    _mf_rpb = 4  # 64 hashes / 16 bands
    _mf_nib = (
        lambda s, i: f"(strpos('0123456789abcdef', substr({s}, {i}, 1)) - 1)"
    )
    _mf_h6 = lambda col: "(" + " + ".join(
        f"{_mf_nib(col, k + 1)} * {16 ** (5 - k)}" for k in range(6)
    ) + ")"
    _mf_hx = ",\n                   ".join(
        f"md5('mh:42:{i}:' || shingle) AS h{i}" for i in range(_mf_p)
    )
    _mf_sg = ",\n                   ".join(
        f"CAST(min({_mf_h6(f'h{i}')}) AS BIGINT) AS s{i}"
        for i in range(_mf_p)
    )
    _mf_br = "\n            UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bucket FROM mfsg".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(s{b * _mf_rpb + r} AS VARCHAR)"
                for r in range(_mf_rpb)
            ),
        )
        for b in range(_mf_p // _mf_rpb)
    )
    _mf_agree = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
        for i in range(_mf_p)
    )
    _mf_jex = (
        "CAST(coalesce(cp.inter, 0) AS DOUBLE)"
        " / (s1.n + s2.n - coalesce(cp.inter, 0))"
    )
    sql["minhash_fidelity"] = f"""
        WITH {_shingle_cp_cte()}, mfhx AS (
            SELECT doc_id,
                   {_mf_hx}
            FROM sh
        ), mfsg AS (
            SELECT doc_id,
                   {_mf_sg}
            FROM mfhx GROUP BY doc_id
        ), mfbr AS (
            {_mf_br}
        ), mfcand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM mfbr x JOIN mfbr y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id
        )
        SELECT c.id_a, c.id_b,
               CAST({_mf_agree} AS BIGINT) AS agree_n,
               round(CAST({_mf_agree} AS DOUBLE) / {_mf_p}, 4) AS j_est,
               round({_mf_jex}, 4) AS j_exact,
               round(abs(CAST({_mf_agree} AS DOUBLE) / {_mf_p}
                         - {_mf_jex}), 4) AS abs_err
        FROM mfcand c
        JOIN mfsg a ON c.id_a = a.doc_id
        JOIN mfsg b ON c.id_b = b.doc_id
        LEFT JOIN cp ON cp.id_a = c.id_a AND cp.id_b = c.id_b
        JOIN sizes s1 ON c.id_a = s1.doc_id
        JOIN sizes s2 ON c.id_b = s2.doc_id
        ORDER BY 1, 2
    """

    # jt_trend: Jonckheere-Terpstra replay — pivot the distinct-value
    # cells to per-group HUGEINT counts, one value-ordered window for
    # the below-value cumulatives, then the identical integer JT/tie/H0
    # algebra (engine DECIMAL(38,0) == DuckDB HUGEINT) and the same
    # three-term variance expression.
    _jt_k = 4
    _jt_piv = ",\n                   ".join(
        f"CAST(coalesce(sum(CASE WHEN grp = {i} THEN c END), 0) AS BIGINT)"
        f" AS c_{i}"
        for i in range(_jt_k)
    )
    _jt_cum = ",\n                   ".join(
        f"CAST(coalesce(sum(c_{i}) OVER (ORDER BY v ROWS BETWEEN"
        f" UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cl_{i}"
        for i in range(_jt_k)
    )
    _jt_terms = " + ".join(
        f"CAST(c_{j} AS HUGEINT) * (2 * CAST({' + '.join(f'cl_{i}' for i in range(j))} AS HUGEINT)"
        f" + CAST({' + '.join(f'c_{i}' for i in range(j))} AS HUGEINT))"
        for j in range(1, _jt_k)
    )
    _jt_tv = " + ".join(f"c_{i}" for i in range(_jt_k))
    _jt_ns = ",\n                   ".join(
        f"CAST(coalesce(sum(c_{i}), 0) AS BIGINT) AS n_{i}"
        for i in range(_jt_k)
    )
    _jt_n = " + ".join(f"n_{i}" for i in range(_jt_k))
    _jt_grp_a = " + ".join(
        f"CAST(n_{i} AS HUGEINT) * (n_{i} - 1) * (2 * n_{i} + 5)"
        for i in range(_jt_k)
    )
    _jt_grp_b = " + ".join(
        f"CAST(n_{i} AS HUGEINT) * (n_{i} - 1) * (n_{i} - 2)"
        for i in range(_jt_k)
    )
    _jt_grp_c = " + ".join(
        f"CAST(n_{i} AS HUGEINT) * (n_{i} - 1)" for i in range(_jt_k)
    )
    _jt_mean2 = " + ".join(
        f"CAST(n_{i} AS HUGEINT) * n_{j}"
        for i in range(_jt_k)
        for j in range(i + 1, _jt_k)
    )
    sql["jt_trend"] = f"""
        WITH base AS (
            SELECT ((epoch_ms(ts) // 3600000) % 24) // 6 AS grp,
                   value AS v
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), cells AS (
            SELECT grp, v, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2
        ), piv AS (
            SELECT v,
                   {_jt_piv}
            FROM cells GROUP BY v
        ), cum AS (
            SELECT v, c_0, c_1, c_2, c_3,
                   {_jt_cum}
            FROM piv
        ), rowterms AS (
            SELECT ({_jt_terms}) AS jt_term,
                   CAST({_jt_tv} AS HUGEINT) AS tv,
                   c_0, c_1, c_2, c_3
            FROM cum
        ), g AS (
            SELECT CAST(coalesce(sum(jt_term), 0) AS HUGEINT) AS jt2,
                   CAST(coalesce(sum(tv * (tv - 1) * (2 * tv + 5)), 0)
                        AS HUGEINT) AS tie_a,
                   CAST(coalesce(sum(tv * (tv - 1) * (tv - 2)), 0)
                        AS HUGEINT) AS tie_b,
                   CAST(coalesce(sum(tv * (tv - 1)), 0) AS HUGEINT)
                       AS tie_c,
                   {_jt_ns}
            FROM rowterms
        ), fin AS (
            SELECT jt2, CAST({_jt_n} AS HUGEINT) AS n,
                   ({_jt_grp_a}) AS grp_a,
                   ({_jt_grp_b}) AS grp_b,
                   ({_jt_grp_c}) AS grp_c,
                   ({_jt_mean2}) AS mean2,
                   tie_a, tie_b, tie_c
            FROM g
        ), v AS (
            SELECT jt2, n, mean2,
                   CASE WHEN n >= 3 THEN
                        CAST(n * (n - 1) * (2 * n + 5) - grp_a - tie_a
                             AS DOUBLE) / CAST(72 AS DOUBLE)
                        + CAST(grp_b AS DOUBLE) * CAST(tie_b AS DOUBLE)
                          / CAST(36 * n * (n - 1) * (n - 2) AS DOUBLE)
                        + CAST(grp_c AS DOUBLE) * CAST(tie_c AS DOUBLE)
                          / CAST(8 * n * (n - 1) AS DOUBLE)
                   END AS var
            FROM fin
        )
        SELECT CAST({_jt_k} AS BIGINT) AS n_groups,
               CAST(n AS BIGINT) AS n,
               CAST(jt2 AS BIGINT) AS jt2,
               round(CASE WHEN var > 0 THEN
                     CAST(jt2 - mean2 AS DOUBLE)
                     / (CAST(2.0 AS DOUBLE) * sqrt(var)) END, 4) + 0 AS z
        FROM v
    """

    # bm25_search: replay the one-aggregate BM25 — conditional tf sums +
    # dl per doc, ONE stats row, the idf/norm float expression in the
    # identical sorted-term order.  Constants are python-computed and
    # emitted as CAST('<repr>' AS DOUBLE) (strtod, bit-identical — the
    # r5 float-literal discipline); counts stay BIGINT until the
    # division.
    _bm_terms = sorted(_BM25_TERMS)
    _bm_k1, _bm_k1p1, _bm_1b, _bm_b = (
        "CAST('1.2' AS DOUBLE)",
        f"CAST('{1.2 + 1.0!r}' AS DOUBLE)",
        f"CAST('{1.0 - 0.75!r}' AS DOUBLE)",
        "CAST('0.75' AS DOUBLE)",
    )
    _bm_tf_cols = ",\n                   ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{i}"
        for i, t in enumerate(_bm_terms)
    )
    _bm_df_cols = ",\n                   ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i in range(len(_bm_terms))
    )
    _bm_cf_cols = ",\n                   ".join(
        f"CAST(sum(tf_{i}) AS BIGINT) AS cf_{i}"
        for i in range(len(_bm_terms))
    )
    _bm_norm = (
        f"{_bm_k1} * ({_bm_1b} + {_bm_b} * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
    )
    _bm_score = " + ".join(
        f"(ln((CAST(n_docs AS DOUBLE) - df_{i} + CAST(0.5 AS DOUBLE))"
        f" / (df_{i} + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))"
        f" * ((CAST(tf_{i} AS DOUBLE) * {_bm_k1p1})"
        f" / (CAST(tf_{i} AS DOUBLE) + {_bm_norm})))"
        for i in range(len(_bm_terms))
    )
    _bm_nhit = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(_bm_terms))
    )
    # shared retrieval prefix (tok/per_doc/stats) — ONE definition for
    # bm25_search, the hybrid fusion's lexical CTE, and ql_search
    _ret_prefix = f"""tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text),
                                                         '\\s+'),
                                      x -> x <> '')) AS term
            FROM documents
        ), per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
                   {_bm_tf_cols}
            FROM tok GROUP BY doc_id
        ), stats AS (
            SELECT CAST(sum(dl) AS BIGINT) AS sum_dl,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   {_bm_df_cols},
                   {_bm_cf_cols}
            FROM per_doc
        )"""

    def _retrieval_sql(score_expr: str, limit: int) -> str:
        """Ranked-retrieval SELECT over the shared prefix — the score
        expression is the ONLY variation between the lexical scorers."""
        return f"""
        WITH {_ret_prefix}, scored AS (
            SELECT p.doc_id,
                   CAST({_bm_nhit} AS BIGINT) AS n_hit,
                   round({score_expr}, 4) AS score
            FROM per_doc p, stats
        ), ranked AS (
            SELECT doc_id, n_hit, score,
                   row_number() OVER (ORDER BY score DESC, doc_id)
                       AS rank
            FROM scored WHERE n_hit > 0
        )
        SELECT doc_id, n_hit, score, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {limit} ORDER BY rank
    """

    def _bm25_sql(limit: int) -> str:
        return _retrieval_sql(_bm_score, limit)

    sql["bm25_search"] = _bm25_sql(15)

    # ql_search: Dirichlet query likelihood — ln((tf + μ·cf/|C|) /
    # (dl + μ)) per term, μ emitted once as a CAST('repr') literal
    _ql_mu = "CAST('100.0' AS DOUBLE)"
    _ql_score = " + ".join(
        f"(CASE WHEN cf_{i} > 0 THEN"
        f" ln((CAST(tf_{i} AS DOUBLE) + {_ql_mu}"
        f" * (CAST(cf_{i} AS DOUBLE) / CAST(sum_dl AS DOUBLE)))"
        f" / (CAST(dl AS DOUBLE) + {_ql_mu}))"
        f" ELSE CAST(0 AS DOUBLE) END)"
        for i in range(len(_bm_terms))
    )
    sql["ql_search"] = _retrieval_sql(_ql_score, 15)

    # hybrid_search: RRF fusion replay — the lexical CTE is the
    # declared BM25 body verbatim at top-50, the dense CTE the brute
    # cosine shape pinned to query 0; the 1/(60+rank) terms sum in the
    # engine's list order (lex, dense) with missing lists contributing
    # exactly 0.
    _rrf_term = (
        "(CASE WHEN {r} IS NOT NULL THEN CAST(1.0 AS DOUBLE)"
        " / (CAST(60.0 AS DOUBLE) + CAST({r} AS DOUBLE))"
        " ELSE CAST(0 AS DOUBLE) END)"
    )
    sql["hybrid_search"] = f"""
        WITH lex AS (
            SELECT doc_id, rank FROM ({_bm25_sql(50)})
        ), ve AS (
            SELECT vec_id, list_apply(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), dense AS (
            SELECT neighbor_id AS doc_id, rank FROM (
                SELECT c.vec_id AS neighbor_id,
                       row_number() OVER (
                           ORDER BY round(list_sum(list_apply(
                                        list_zip(q.e, c.e),
                                        p -> p[1] * p[2]))
                                    / (sqrt(list_sum(list_apply(q.e,
                                             x -> x * x)))
                                       * sqrt(list_sum(list_apply(c.e,
                                             x -> x * x)))), 4) DESC,
                                    c.vec_id) AS rank
                FROM ve q JOIN ve c ON c.vec_id <> q.vec_id
                WHERE q.vec_id = 0)
            WHERE rank <= 50
        ), ids AS (
            SELECT doc_id FROM lex UNION SELECT doc_id FROM dense
        ), fused AS (
            SELECT i.doc_id,
                   CAST((CASE WHEN l.rank IS NOT NULL THEN 1 ELSE 0 END)
                        + (CASE WHEN d.rank IS NOT NULL THEN 1 ELSE 0
                           END) AS BIGINT) AS n_lists,
                   round({_rrf_term.format(r='l.rank')}
                         + {_rrf_term.format(r='d.rank')}, 6) AS score
            FROM ids i
            LEFT JOIN lex l ON i.doc_id = l.doc_id
            LEFT JOIN dense d ON i.doc_id = d.doc_id
        )
        SELECT doc_id, n_lists, score, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)
                       AS rank
            FROM fused)
        WHERE rank <= 15 ORDER BY rank
    """

    # bootstrap_token_ci: the Poisson-bootstrap replay — deterministic
    # Poisson(1) weights from the 24-bit md5 head vs the PYTHON-computed
    # integer thresholds (identical literals both engines), exact BIGINT
    # replicate sums, exact ceil-rank order-statistic CI.  Integer sums
    # CAST to BIGINT before use (DuckDB integer sum() -> HUGEINT).
    from streamkit_spark.functions.analytics import POISSON1_T24

    _nib6 = " + ".join(
        f"({_hll_nib.format(s='hx', i=i + 1)}) * {16 ** (5 - i)}"
        for i in range(6)
    )
    _wsum = " + ".join(
        f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)" for t in POISSON1_T24
    )
    sql["bootstrap_token_ci"] = f"""
        WITH base AS (
            SELECT doc_id AS id, source AS g,
                   CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x <> '')) AS BIGINT) AS v
            FROM documents WHERE source IS NOT NULL
        ), reps AS (
            SELECT g, id, v, i AS b
            FROM base, unnest(range(0, 200)) AS t(i)
        ), hashed AS (
            SELECT g, b, v, CAST({_nib6} AS BIGINT) AS h
            FROM (SELECT g, b, v,
                         md5('boot:' || CAST(b AS VARCHAR) || ':'
                             || CAST(id AS VARCHAR)) AS hx
                  FROM reps)
        ), weighted AS (
            SELECT g, b, v, ({_wsum}) AS w FROM hashed
        ), rep AS (
            SELECT g, b,
                   CAST(sum(w) AS BIGINT) AS n_b,
                   CAST(sum(w * v) AS BIGINT) AS s_b
            FROM weighted GROUP BY g, b HAVING sum(w) > 0
        ), m AS (
            SELECT g, b,
                   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b
            FROM rep
        ), ranked AS (
            SELECT g, mean_b,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY mean_b, b) AS rn,
                   count(*) OVER (PARTITION BY g) AS cnt
            FROM m
        ), bounds AS (
            SELECT g,
                   CAST(count(*) AS BIGINT) AS b_eff,
                   max(CASE WHEN rn = (25 * cnt + 999) // 1000
                            THEN mean_b END) AS lo,
                   max(CASE WHEN rn = (975 * cnt + 999) // 1000
                            THEN mean_b END) AS hi
            FROM ranked GROUP BY g
        ), pt AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS mean_v
            FROM base GROUP BY g
        )
        SELECT pt.g AS source, n_docs, b_eff,
               round(mean_v, 4) AS mean,
               round(lo, 4) AS ci_lo,
               round(hi, 4) AS ci_hi
        FROM pt JOIN bounds ON pt.g = bounds.g
        ORDER BY source
    """
    # conformal_score: split-conformal rank ⌈(n+1)·900‰⌉ via the exact
    # ceil-div identity, q̂ = order statistic from the shared sc0
    # classifier-score CTE (bias 0.1); NULL qhat when rank > n
    sql["conformal_score"] = f"""
        WITH {_qc_lab_ctes}, cal AS (
            SELECT d.source AS g, sc0.score AS sc
            FROM sc0 JOIN documents d ON d.doc_id = sc0.doc_id
            WHERE d.source IS NOT NULL AND sc0.score IS NOT NULL
        ), rr AS (
            SELECT g, sc,
                   row_number() OVER (PARTITION BY g ORDER BY sc) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM cal
        ), kk AS (
            SELECT DISTINCT g, n,
                   ((n + 1) * 900 + 999) // 1000 AS rk
            FROM rr
        )
        SELECT kk.g AS source,
               CAST(kk.n AS BIGINT) AS n_cal,
               CAST(kk.rk AS BIGINT) AS rank,
               max(CASE WHEN rr.rn = kk.rk THEN rr.sc END) AS qhat,
               CASE WHEN kk.rk <= kk.n THEN
                    round(CAST(kk.rk AS DOUBLE) / kk.n, 4)
               END AS cal_coverage
        FROM kk JOIN rr ON rr.g = kk.g
        GROUP BY kk.g, kk.n, kk.rk
        ORDER BY source
    """
    # kn_logprob: interpolated Kneser-Ney bigram replay — exact count
    # margins over the bigram table, ln(P) in the engine's exact
    # arithmetic order ((c−d)/c_a + ((d·n1f)/c_a)·(n1b/n_bb)), per-doc
    # position-ordered fold (list_sum(list(lp ORDER BY pos)) == the
    # engine's array_sort+aggregate left fold)
    sql["kn_logprob"] = f"""
        WITH {_tok_cte}, bg AS (
            SELECT doc_id, i AS pos, t[i] AS a, t[i + 1] AS b
            FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2
        ), cab AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
            FROM bg GROUP BY 1, 2
        ), lm AS (
            SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
                   CAST(count(*) AS BIGINT) AS n1f
            FROM cab GROUP BY a
        ), rm AS (
            SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM cab GROUP BY b
        ), nb AS (
            SELECT CAST(count(*) AS BIGINT) AS n_bb FROM cab
        ), sc AS (
            SELECT bg.doc_id, bg.pos,
                   ln((CAST(c_ab AS DOUBLE) - CAST('0.75' AS DOUBLE))
                          / CAST(c_a AS DOUBLE)
                      + CAST('0.75' AS DOUBLE) * CAST(n1f AS DOUBLE)
                          / CAST(c_a AS DOUBLE)
                          * (CAST(n1b AS DOUBLE) / CAST(n_bb AS DOUBLE)))
                       AS lp
            FROM bg JOIN cab USING (a, b) JOIN lm USING (a)
                    JOIN rm USING (b) CROSS JOIN nb
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(list_sum(list(lp ORDER BY pos)) / count(*), 4)
                   AS kn_logprob
        FROM sc GROUP BY doc_id ORDER BY doc_id
    """
    # detector_agreement: compose the four detector oracle strings
    # verbatim (one source of truth per detector — the ivf_recall
    # discipline), normalize + tag the pair sets, self-join for
    # co-occurrence (the oracle may; the engine enumerates in-row)
    sql["detector_agreement"] = f"""
        WITH det_j AS ({sql["dedup_ngram_jaccard"]}),
             det_o AS ({sql["dedup_overlap"]}),
             det_c AS ({sql["dedup_containment"]}),
             det_s AS ({sql["dedup_substring"]}),
        tagged AS (
            SELECT DISTINCT least(id_a, id_b) AS id_a,
                   greatest(id_a, id_b) AS id_b, 'jaccard' AS det
            FROM det_j
            UNION ALL
            SELECT DISTINCT least(id_a, id_b), greatest(id_a, id_b),
                   'overlap' FROM det_o
            UNION ALL
            SELECT DISTINCT least(id_a, id_b), greatest(id_a, id_b),
                   'containment' FROM det_c
            UNION ALL
            SELECT DISTINCT least(doc_a, doc_b), greatest(doc_a, doc_b),
                   'substring' FROM det_s
        ), per AS (
            SELECT det, CAST(count(*) AS BIGINT) AS n FROM tagged
            GROUP BY det
        ), co AS (
            SELECT a.det AS det_a, b.det AS det_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM tagged a JOIN tagged b
              ON a.id_a = b.id_a AND a.id_b = b.id_b AND a.det < b.det
            GROUP BY 1, 2
        ), spine(det_a, det_b) AS (
            VALUES ('containment', 'jaccard'), ('containment', 'overlap'),
                   ('containment', 'substring'), ('jaccard', 'overlap'),
                   ('jaccard', 'substring'), ('overlap', 'substring')
        )
        SELECT s.det_a, s.det_b,
               CAST(coalesce(pa.n, 0) AS BIGINT) AS n_a,
               CAST(coalesce(pb.n, 0) AS BIGINT) AS n_b,
               CAST(coalesce(co.n_both, 0) AS BIGINT) AS n_both,
               CASE WHEN coalesce(pa.n, 0) + coalesce(pb.n, 0)
                         - coalesce(co.n_both, 0) > 0 THEN
                    round(coalesce(co.n_both, 0)::DOUBLE
                          / (coalesce(pa.n, 0) + coalesce(pb.n, 0)
                             - coalesce(co.n_both, 0)), 4)
               END AS agreement
        FROM spine s
        LEFT JOIN per pa ON pa.det = s.det_a
        LEFT JOIN per pb ON pb.det = s.det_b
        LEFT JOIN co ON co.det_a = s.det_a AND co.det_b = s.det_b
        ORDER BY s.det_a, s.det_b
    """
    return sql
