"""corpus_catalog — batch passes over the LLM-corpus pipeline and a fixed
catalog of declared queries, on the benchmark's sf0.001 fixture tables.

One pass builds each op fresh and collects it, always in this order:

* ``pipeline.curate`` with ``CurationConfig(use_lsh=False,
  cluster_dedup=True, containment_threshold=0.6)`` — exact Jaccard and
  containment pairs, connected-component collapse, quality rules;
* two rounds of eleven declared queries from ``__spark_entry__.queries()``,
  at least one per family (tpch, analytics, sketch, text, similarity).
  They are the control: a change to the dedup or curation code should
  leave them alone.  Warm, they take 0.35-1.1 s each on a 4-core box;
  two rounds give each query two timed calls, so the calmer one can be
  taken (``Workload.calm_medians``).

A set-up opens the nine fixture tables fresh and counts each, then runs
one sort with a shuffle, so scans and the shuffle path are warm.  Once
after the set-ups an untimed round runs every catalog query (checked
like the timed ones), so the timed pass does not pay each query's first
planning and code generation.  ``curate`` gets no warm round: it would
add 12-18 s to every run.  Traced runs then call the ``dedup`` stages
standalone on the same documents, so each stage gets its own span.

Every op's rows are checked against an order-insensitive row hash
recorded from a reference commit in ``expected.json`` (``run.py
--record`` rewrites it).  The inputs are the fixed fixture, so the seed
changes nothing in this workload.
"""

from __future__ import annotations

import json
import os
import time

from common import median, row_hash
from tracer import subtree_total
from workload import Workload

# The catalog, copied here so that edits elsewhere cannot change what is
# measured.  entry → family (the module family its work lives in).
CATALOG = {
    "tpch_q1_pricing_summary": "tpch",
    "tpch_q3_shipping_priority": "tpch",
    "tpch_q5_region_revenue": "tpch",
    "monthly_revenue": "tpch",
    "topk_orders_per_customer": "tpch",
    "cube_revenue": "tpch",
    "quantile_report": "analytics",
    "value_trend": "analytics",
    "hll_distinct": "sketch",
    "doc_token_stats": "text",
    "ann_topk_bruteforce": "similarity",
}
FAMILIES = ("analytics", "sketch", "text", "similarity", "tpch")
SMOKE_CATALOG = ("tpch_q5_region_revenue", "doc_token_stats")
CATALOG_ROUNDS = 2
TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
DEDUP_STAGES = (
    "shingle_table", "jaccard_pairs", "containment_pairs",
    "overlap_pairs", "substring_pairs", "duplicate_clusters",
)

LAYER_METRICS = {
    "tables.load_s": "s",
    "curation.curate_build_s": "s",
    "curation.curate_build_jobs": "count",
    **{f"dedup.{n}_s": "s" for n in DEDUP_STAGES},
    "dedup.containment_candidates": "count",
    "dedup.containment_verified": "count",
    "dedup.containment_verify_ratio": "ratio",
    **{f"{fam}.s": "s" for fam in FAMILIES},
}


class CorpusCatalog(Workload):
    name = "corpus_catalog"
    layer_metrics_units = LAYER_METRICS
    pass_nominal_s = 20.0

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__

        from streamkit_spark import tables
        from streamkit_spark.functions import dedup
        from streamkit_spark.pipeline import CurationConfig, curate

        self.queries = __spark_entry__.queries()
        self.tables = tables
        self.D = dedup
        self.curate = lambda docs: curate(
            docs, CurationConfig(use_lsh=False, cluster_dedup=True, containment_threshold=0.6)
        )
        self.names = SMOKE_CATALOG if ctx.smoke else tuple(CATALOG)
        self.rounds = 1 if ctx.smoke else CATALOG_ROUNDS
        self.expected = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                self.expected = json.load(f)
        self.recorded: dict[str, dict] = {}
        self.load_s: list[float] = []
        self.dedup_counts: dict[str, int] = {}

    def setup(self, rep: int) -> None:
        """Open every fixture table fresh (file listing, footer read and
        analysis) and count it; then one sort with a shuffle."""
        t = time.perf_counter()
        with self.tracer.span("tables.load"):
            for name in TABLES:
                self.tables.load(self.spark, self.ctx.data, name, fresh=True)
        self.load_s.append(time.perf_counter() - t)
        with self.tracer.span("tables.warm"):
            for name in TABLES:
                self.tables.load(self.spark, self.ctx.data, name).count()
            lineitem = self.tables.load(self.spark, self.ctx.data, "lineitem")
            lineitem.orderBy("l_orderkey").limit(10).count()

    def warm_up(self) -> None:
        for name in self.names:
            rows = self.queries[name](self.spark, self.ctx.data).collect()
            self._verify(name, rows)

    def _docs(self):
        return self.tables.load(self.spark, self.ctx.data, "documents")

    def _verify(self, name: str, rows) -> None:
        got = {"rows": len(rows), "sha256": row_hash(rows)}
        self.recorded[name] = got
        want = self.expected.get(name)
        self.check(want == got, f"{name}: got {got}, want {want}")

    def _run_op(self, name: str, span: str, build, **attrs) -> None:
        t = time.perf_counter()
        with self.tracer.span(span, **attrs):
            rows = self.timed_df(build)
        self.record(name, t, time.perf_counter())
        self._verify(name, rows)

    def run_pass(self, k: int) -> None:
        self._run_op("curate", "pipeline.curate", lambda: self.curate(self._docs()))
        for _ in range(self.rounds):
            for name in self.names:
                self._run_op(
                    name, f"catalog.{name}",
                    lambda: self.queries[name](self.spark, self.ctx.data),
                    family=CATALOG[name],
                )

    def traced_extras(self) -> None:
        """Each dedup stage standalone, with the detector settings of the
        declared dedup queries."""
        D = self.D
        docs = self._docs()
        stages = {
            "shingle_table": lambda: D.shingle_table(docs, n=3),
            "jaccard_pairs": lambda: D.ngram_jaccard_pairs(docs, n=3, threshold=0.6),
            "overlap_pairs": lambda: D.overlap_coefficient_pairs(docs, n=3, threshold=0.8, max_df=64),
            "containment_candidates": lambda: D.containment_candidates(docs, threshold=0.6),
            "containment_pairs": lambda: D.containment_pairs(docs, threshold=0.6),
            "substring_pairs": lambda: D.substring_dup_pairs(docs, k=16, w=8, min_shared=2, hash_fn="md5"),
            # over the collected edges, so the span holds the clustering alone
            "duplicate_clusters": lambda: D.duplicate_clusters(
                self.spark.createDataFrame(sorted(edges), "id_a long, id_b long")
            ),
        }
        edges = set()
        with self.tracer.span("dedup.stages"):
            for name, build in stages.items():
                with self.tracer.span(f"dedup.{name}"):
                    rows = self.timed_df(build)
                self.dedup_counts[name] = len(rows)
                self._verify(f"dedup.{name}", rows)
                if name in ("jaccard_pairs", "containment_pairs"):
                    edges |= {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in rows}

    def e2e_detail(self) -> dict:
        return {"op_s": self.lat}

    def write_expected(self) -> None:
        with open(EXPECTED, "w") as f:
            json.dump(dict(sorted(self.recorded.items())), f, indent=1)
            f.write("\n")

    def layer_metrics(self, spans: list[dict]) -> dict[str, float]:
        dur = lambda s: s["end"] - s["start"]
        passes = [s for s in spans if s["name"] == "pass"]
        curates = {s["id"] for s in spans if s["name"] == "pipeline.curate"}
        builds = [s for s in spans if s["parent"] in curates and s["name"] == "build"]
        cand = self.dedup_counts.get("containment_candidates", 0)
        verified = self.dedup_counts.get("containment_pairs", 0)
        m = {
            "tables.load_s": median(self.load_s),
            "curation.curate_build_s": median([dur(s) for s in builds]),
            "curation.curate_build_jobs": median([subtree_total(spans, s, "jobs") for s in builds]),
            "dedup.containment_candidates": cand,
            "dedup.containment_verified": verified,
            "dedup.containment_verify_ratio": verified / cand if cand else 0.0,
        }
        for n in DEDUP_STAGES:
            m[f"dedup.{n}_s"] = median([dur(s) for s in spans if s["name"] == f"dedup.{n}"])
        for fam in FAMILIES:
            m[f"{fam}.s"] = median([
                sum(dur(s) for s in spans if s["parent"] == p["id"] and s.get("family") == fam)
                for p in passes
            ])
        m.update(self.phase_metrics(spans))
        return m
