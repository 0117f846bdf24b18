"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is built fresh and fully executed (count of the final plan —
no driver-side collect of bulk rows, mirroring a write-to-sink terminal
op).  A small warm-up query first so JVM startup isn't billed to the
first headline query.  Code generation is warm for an entry from its
second run on: its classes stay in the session's generated-class cache
(2000 entries, ``session.get_spark``), which holds the suite's ~940.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamkit_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

# Headline set: one per operator family — scan+sort, cursor scan, merge,
# status agg, window top-k, TPC-H agg + joins, dedup (exact-jaccard and
# LSH), ANN, text stats.
HEADLINE = [
    "s1_tail_window",
    "s2_consume_space",
    "s3_consume_merge",
    "w1_peek_all",
    "a1_segment_status",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "topk_orders_per_customer",
    "monthly_revenue",
    "x3_json_extract",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "asof_purchase_click",
    "doc_token_stats",
    "embedding_near_dups",
    "quality_rules",
    "pack_sequences",
    "repetition_stats",
    "dedup_substring",
    "temperature_sample",
    # round 3: sketch / clustering / event analytics
    "bloom_prefilter",
    "kmeans_assign",
    "event_transitions",
    "quantile_report",
    "pmi_top_pairs",
    "bigram_logprob",
    "zorder_stats",
    "column_stats",
    "bpe_fertility",
    # round 5: weighted lexical dedup, gap filling, pagerank, salting
    "tfidf_cosine",
    "gap_filled_daily",
    "event_pagerank",
    "salted_brand_revenue",
    # round 5, second session: classifier scoring, edit-distance dedup,
    # A/B stats, compaction planning
    "quality_classifier",
    "dedup_editdist",
    "ab_value_ztest",
    "compaction_bins",
    # round 5, fourth session: deterministic sketches (HLL cardinality,
    # KMV overlap, count-min), mixture planning, funnel timing
    "hll_distinct",
    "kmv_overlap",
    "cms_user_counts",
    "mixture_plan",
    "funnel_timing",
    # round 5, fifth session: robust/categorical stats, grouping sets,
    # trend/attribution finishers.  kcore_knn stays OUT of the headline
    # set (like triangle_count/knn_graph): its cost is the shared brute
    # kNN build (~20s warm at sf0.1), not the peel (~6s) — benching it
    # would mostly re-time the graph build.
    "spearman_corr",
    "cube_revenue",
    "value_trend",
    "attribution_linear",
    "chi2_weekday",
    # round 6: rank/CDF statistics, token-distribution divergences,
    # daily-series diagnostics.  One per machinery family — ks_value /
    # gini / winsorized / wilson share ranksum's cell/count machinery
    # and stay out.
    "ranksum_value",
    "kendall_value_hour",
    "kl_sources",
    "psi_daily",
    "seasonal_strength",
    "acf_daily",
    "xcorr_daily",
    "jsd_sources",
    # round 7: the applyInPandas exact-stat family (Knight tau-b)
    "kendall_exact",
    # round 8: one per new machinery family — the calibration sketch,
    # the embedding moment folds, the top-k prefix-intersect matrix.
    # gate_kappa/hill/benford/kendall_matrix share contingency /
    # value-cell / kendall machinery already benched and stay out.
    "calibration_ece",
    "embedding_drift",
    "rbo_sources",
    # round 9: the PPJoin-on-the-smaller-side containment machinery and
    # the cluster-collapse composition (duplicate_clusters wasn't in any
    # headline entry before).  containment_split / source_dup_matrix /
    # memorization_risk share pair machinery already benched and stay out.
    "dedup_containment",
    "effective_tokens",
    # round 10: the Poisson-bootstrap machinery (B×N explode + one
    # map-side-combined groupBy).  lsh_recall / detector_agreement /
    # cluster_modularity compose machinery already benched and stay out
    # (the kcore_knn policy).
    "bootstrap_token_ci",
    # round 11: one per new machinery family — the BM25 one-aggregate
    # retrieval shape, the 64-slot signature fidelity replay, the
    # pivoted JT cell algebra.  classifier_ap / km_conversion /
    # knn_assortativity / hybrid_search / pq+ivfadc_recall compose
    # machinery already benched (gate table, value cells, kNN graph,
    # brute ANN) and stay out (the kcore_knn policy).
    "bm25_search",
    "minhash_fidelity",
    "jt_trend",
]


def _dedup_substring_fast(spark, sf_dir):
    """Winnowing production path: xxhash64 gram hashing (the declared
    `dedup_substring` query pins hash_fn="md5" for DuckDB oracle parity;
    this is what a real pipeline would run)."""
    from streamkit_spark import tables
    from streamkit_spark.functions import dedup as D

    docs = tables.load(spark, sf_dir, "documents")
    return D.substring_dup_pairs(docs, k=16, w=8, min_shared=2, hash_fn="xxhash64")


def _pq_encode_fast(spark, sf_dir):
    """PQ production path: plain-avg centroid means + map-only encode
    (the declared pq_* queries pin exact_means=True for DuckDB oracle
    parity; a real pipeline runs the avg path benched here)."""
    from streamkit_spark import tables
    from streamkit_spark.functions import similarity as SIM

    emb = tables.load(spark, sf_dir, "embeddings")
    books = SIM.pq_codebooks(emb, m=4, k=16, iters=2, exact_means=False)
    return SIM.pq_encode(emb, books)


def _bootstrap_token_ci_fast(spark, sf_dir):
    """Poisson-bootstrap CI production path: xxhash64 weight variate
    (the declared bootstrap_token_ci pins hash_fn="md5" so DuckDB can
    replay the weights; at scale a caller wants the codegen'd hash —
    same POISSON1_T24 thresholds, same statistic, pinned by the
    accuracy-contract test in tests/test_bootstrap.py)."""
    from pyspark.sql import functions as F
    from streamkit_spark import tables
    from streamkit_spark.functions import analytics as AN
    from streamkit_spark.functions import text as TX

    docs = tables.load(spark, sf_dir, "documents")
    vals = docs.select(
        "doc_id",
        "source",
        TX.token_count("text").cast("long").alias("ntok"),
    )
    return AN.poisson_bootstrap_ci(
        vals, "source", "ntok", id_col="doc_id", b=200, alpha=0.05,
        hash_fn="xxhash64",
    )


def _knn_graph_ivf(spark, sf_dir):
    """kNN graph scale path (the declared `knn_graph` query pins the
    brute verifier for oracle parity; a real pipeline runs IVF)."""
    from streamkit_spark import tables
    from streamkit_spark.functions import similarity as SIM

    emb = tables.load(spark, sf_dir, "embeddings")
    return SIM.knn_graph(emb, k=5, method="ivf", n_centroids=16, nprobe=2)


def _label_propagation_ivf(spark, sf_dir):
    """Label propagation over the IVF kNN graph (the declared query uses
    brute edges for oracle parity)."""
    from pyspark.sql import functions as F
    from streamkit_spark import tables
    from streamkit_spark.functions import similarity as SIM

    emb = tables.load(spark, sf_dir, "embeddings")
    edges = SIM.knn_graph(emb, k=5, method="ivf", n_centroids=16, nprobe=2)
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    return SIM.label_propagation(edges, seeds, emb.select("vec_id"), n_iter=3)


# bench-only entries (not part of the declared oracle-checked surface)
EXTRA = {
    "dedup_substring_fast": _dedup_substring_fast,
    "pq_encode_fast": _pq_encode_fast,
    "bootstrap_token_ci_fast": _bootstrap_token_ci_fast,
    "knn_graph_ivf": _knn_graph_ivf,
    "label_propagation_ivf": _label_propagation_ivf,
}

# Per-entry UNTIMED warm-up runs before the timed triple.  pq_encode_fast's
# 4-thread codebook training needs ~5 runs of JIT/cache ramp in a fresh
# session (BENCH_movers_r10: 32s -> 4.9s steady over 7 runs, code
# byte-identical since r6) — without the ramp the suite times runs 1-3 of
# the trajectory and the entry reads as a fake regression every round
# (VERDICT r10 item #3).  The sidecar records the prewarm count so a
# reader knows the triple is steady-state, not cold.
PREWARM = {"pq_encode_fast": 4}


def _cotenant_jvms() -> int:
    """Count java processes that are NOT this bench's own gateway JVM.

    Self-certification (VERDICT r8 item #2): the box shows 18x timing
    swings under co-tenant load with zero code change, so an artifact
    that can't show whether another JVM was running cannot distinguish
    contention from regression.  Our own py4j JVM is a direct child of
    this python process; everything else java-shaped is a co-tenant."""
    import subprocess

    try:
        proc = subprocess.run(
            ["ps", "-eo", "pid,ppid,comm"], capture_output=True, text=True
        )
    except OSError:
        return -1  # unknown — still honest in the artifact
    if proc.returncode != 0:
        # a failed ps must read "unknown", never the certifying 0
        return -1
    out = proc.stdout
    me = os.getpid()
    n = 0
    for line in out.splitlines()[1:]:
        parts = line.split()
        if len(parts) >= 3 and "java" in parts[2]:
            try:
                ppid = int(parts[1])
            except ValueError:
                # unexpected ps field layout (comm with spaces shifting
                # columns): read "unknown", never crash the bench or
                # certify a clean 0 we didn't verify (ADVICE r9)
                return -1
            if ppid != me:
                n += 1
    return n


def _env_snapshot() -> dict:
    """Machine-state stamp for the artifact: 1/5/15-min loadavg plus the
    co-tenant JVM count, taken at suite start and end by the callers."""
    try:
        la = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        la = None
    return {"loadavg": la, "cotenant_jvms": _cotenant_jvms()}


def run_suite(
    spark, sf_dir: str, all_runs: dict[str, list[float]] | None = None
) -> dict[str, float]:
    """Median-of-3 timings for every headline query at one scale factor.

    When ``all_runs`` is passed, the sorted per-run triple for each query
    is recorded into it — the artifact then carries the raw evidence (a
    bimodal triple like [6.1, 6.3, 74.3] is the contention signature;
    three tight runs certify the median)."""
    queries = entry.queries()
    # warm-up: touch each input table so the FS cache and file listings
    # are warm.  It warms only its own classes: each entry compiles its
    # own on its first run, and they stay cached while the working set
    # fits the generated-class cache (session.get_spark).
    from streamkit_spark import tables

    for t in tables.TABLE_NAMES:
        tables.load(spark, sf_dir, t).count()
    # one sort+shuffle warm-up so the executor and shuffle ramp isn't
    # billed to the first headline query
    tables.load(spark, sf_dir, "events").orderBy("event_id").limit(10).count()

    timings: dict[str, float] = {}
    for name, fn in [(n, queries[n]) for n in HEADLINE] + list(EXTRA.items()):
        # median-of-3: machine contention (co-tenant JVMs) inflates single
        # runs 2-6x (observed: 3.9s intrinsic -> 16s under a co-running
        # JVM).  The median resists one contended outlier without the
        # min's optimism, so round-over-round trend lines stay honest
        # (VERDICT r2 bench-methodology item).
        runs, n = [], 0
        for _ in range(PREWARM.get(name, 0)):
            fn(spark, sf_dir).count()
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[1], 3)
        if all_runs is not None:
            all_runs[name] = [round(r, 3) for r in sorted(runs)]
            if name in PREWARM:
                all_runs[f"{name}__prewarm_runs"] = [PREWARM[name]]
        print(
            f"# {name}: {n} rows, median {timings[name]}s "
            f"(runs {[round(r, 3) for r in sorted(runs)]})",
            file=sys.stderr,
        )
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0
    spark = get_spark(app_name="streamkit_spark_bench")

    env_start = _env_snapshot()
    all_runs: dict[str, list[float]] = {}
    timings = run_suite(spark, sf_dir, all_runs)
    total = round(sum(timings.values()), 3)
    # The stdout line stays COMPACT — medians only, the shape the driver
    # has parsed since r1.  BENCH_r09 came back "parsed": null because
    # the triples + env blocks pushed the single line past the driver's
    # output capture and truncated its head (VERDICT r9 item #2).  The
    # self-certification detail (sorted per-run triples, loadavg and
    # co-tenant JVM count at suite start/end) goes to a committed
    # sidecar artifact instead.
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
    if detail_path is None:
        # Default path NEVER overwrites an existing sidecar: the r11
        # driver's 8-core leg ran in the committed worktree and clobbered
        # the builder's quiet-run evidence file (VERDICT r11 item #8).
        # First free BENCH_detail[.n].json wins; a caller who WANTS a
        # fixed path sets $SPARK_GRAFT_BENCH_DETAIL explicitly.
        base_dir = os.path.dirname(os.path.abspath(__file__))
        detail_path = os.path.join(base_dir, "BENCH_detail.json")
        n = 1
        while os.path.exists(detail_path):
            n += 1
            detail_path = os.path.join(base_dir, f"BENCH_detail.{n}.json")
    # the driver-parsed line goes out FIRST: a failed sidecar write
    # (read-only checkout, full disk) must never cost the primary
    # artifact after the whole suite already ran (the r9 parsed:null
    # class, write-order edition)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "stat": "median_of_3",
                "detail": os.path.basename(detail_path),
            }
        ),
        flush=True,
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(
                {
                    "metric": "headline_queries_detail",
                    "sf": sf,
                    "stat": "median_of_3",
                    "runs": all_runs,
                    "env_start": env_start,
                    "env_end": _env_snapshot(),
                },
                f,
                indent=2,
            )
    except OSError as exc:
        print(f"# sidecar detail write failed: {exc}", file=sys.stderr)


def scaling() -> None:
    """Scaling probe (``python bench.py --scaling``): the same headline
    suite at sf0.01 AND sf0.1 (10× the data), written to
    ``BENCH_scaling.json`` so the flat-or-sublinear claim is
    machine-checkable round over round.  ``ratio`` is the sf0.1 median
    over the sf0.01 median — on local[32] a ratio well under 10 means
    fixed overhead (plan/launch) still dominates and the operator has
    scan headroom; a ratio at/above the 10× data growth flags a
    superlinear plan to investigate."""
    spark = get_spark(app_name="streamkit_spark_bench_scaling")
    env_start = _env_snapshot()
    lo_runs: dict[str, list[float]] = {}
    hi_runs: dict[str, list[float]] = {}
    lo = run_suite(spark, "/root/testdata/sf0.01", lo_runs)
    hi = run_suite(spark, "/root/testdata/sf0.1", hi_runs)
    out = {
        q: {
            "sf0.01": lo[q],
            "sf0.1": hi[q],
            "ratio": round(hi[q] / lo[q], 2) if lo[q] > 0 else None,
            "sf0.01_runs": lo_runs[q],
            "sf0.1_runs": hi_runs[q],
        }
        for q in lo
    }
    artifact = {
        "metric": "headline_scaling_medians_sec",
        "data_ratio": 10.0,
        "stat": "median_of_3",
        "env_start": env_start,
        "env_end": _env_snapshot(),
        "queries": out,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_scaling.json"), "w") as f:
        json.dump(artifact, f, indent=2)
    print(json.dumps(artifact))


if __name__ == "__main__":
    if "--scaling" in sys.argv[1:]:
        scaling()
    else:
        main()
