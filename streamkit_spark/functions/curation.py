"""Corpus-curation operators for LLM training-data pipelines.

The four standard curation stages the reference's query surface stops short
of — quality-rule filtering (Gopher/C4-style), benchmark-contamination
screening, deterministic stratified sampling, and token-budget mixing —
plus sequence packing (concat-and-chop into fixed context windows).

Everything is declarative DataFrame ops over built-in JVM expressions:

* quality rules: map-only per-doc expressions + one (doc, bigram) agg for
  the repetition rule — partial-aggregable, no skew (bigram counts are
  grouped per doc, never globally).
* contamination: shingle equi-join where the benchmark side is broadcast
  (benchmark suites are small by definition — MMLU-scale, not corpus-scale).
* stratified sampling: pure map-side filter on a deterministic md5 bucket —
  zero shuffle, reproducible across engines and runs (no rand()).
* mixing plan: one tiny per-source agg.
* packing: two-level distributed prefix-sum — per-bucket partial sums, a
  driver-scale window over bucket totals, broadcast the bucket bases back.
  No global single-partition window; at 100 TB the only full-data exchange
  is the one groupBy on the (coarse) bucket key.

Reference analog: fgrzl/streamkit has no corpus ops — these extend the
surface for the training-data use case (brief: dedup/similarity/text are
first-class).  Cross-engine determinism rules follow docs/PARITY.md: md5
for hashing, DECIMAL-free ratio math with round(., 4) at the edges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streamkit_spark.functions.text import STOPWORDS, tokens

# ---------------------------------------------------------------------------
# Gopher-style quality rules
# ---------------------------------------------------------------------------

# union of the per-language stopword lists — the corpus is multilingual, so
# the "has common function words" rule must not assume English
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})

DEFAULT_RULES = {
    "min_words": 30,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "min_frac_unique_words": 0.30,
    "min_stopword_hits": 1,
    "max_top_bigram_frac": 0.10,
}


def quality_rules(
    df: DataFrame,
    rules: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document quality-rule report (Gopher §A.1.1 / C4-style).

    Output: (doc_id, n_words, mean_word_len, frac_unique_words,
    stopword_hits, top_bigram_frac, passes) — one row per doc; ``passes``
    is the AND of all rules.  Callers filter ``passes`` to curate.

    All metrics except the repetition rule are map-only expressions.  The
    top-bigram fraction (the Gopher "fraction of text in the most common
    2-gram" repetition rule) needs one (doc, bigram) count + per-doc max —
    both partial-aggregable, keyed by doc so there is no global hot key.
    Ratios are rounded to 4dp to pin float determinism across engines.
    """
    r = {**DEFAULT_RULES, **(rules or {})}
    toks = tokens(text_col)
    sw = F.array(*[F.lit(w) for w in ALL_STOPWORDS])

    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__t"),
    ).select(
        "doc_id",
        F.size("__t").cast("long").alias("n_words"),
        F.round(
            F.when(F.size("__t") == 0, F.lit(0.0)).otherwise(
                F.aggregate(
                    F.col("__t"), F.lit(0).cast("long"), lambda a, t: a + F.length(t)
                ).cast("double")
                / F.size("__t")
            ),
            4,
        ).alias("mean_word_len"),
        F.round(
            F.when(F.size("__t") == 0, F.lit(0.0)).otherwise(
                F.size(F.array_distinct("__t")).cast("double") / F.size("__t")
            ),
            4,
        ).alias("frac_unique_words"),
        F.size(F.filter("__t", lambda t: F.array_contains(sw, F.lower(t))))
        .cast("long")
        .alias("stopword_hits"),
    )

    # top bigram fraction: 2·max(bigram count)/n_words (a bigram covers 2
    # words; Gopher counts the fraction of text it occupies)
    # a doc under 2 words explodes a NULL array into no rows; a guard, not a
    # filter, so no predicate of this branch is pushed below the input and
    # a shared input exchange (classifier_gate_table's spread) stays shared
    bg = df.select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
    bigrams = bg.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, 2)),
                ),
            )
        ).alias("bigram"),
        F.size("__t").alias("__n"),
    )
    top_bg = (
        bigrams.groupBy("doc_id", "bigram", "__n")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                (F.max("c") * 2).cast("double") / F.first("__n"), 4
            ).alias("top_bigram_frac")
        )
    )

    rep = base.join(top_bg, "doc_id", "left").withColumn(
        "top_bigram_frac", F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
    )
    passes = (
        (F.col("n_words") >= r["min_words"])
        & (F.col("n_words") <= r["max_words"])
        & (F.col("mean_word_len") >= r["min_mean_word_len"])
        & (F.col("mean_word_len") <= r["max_mean_word_len"])
        & (F.col("frac_unique_words") >= r["min_frac_unique_words"])
        & (F.col("stopword_hits") >= r["min_stopword_hits"])
        & (F.col("top_bigram_frac") <= r["max_top_bigram_frac"])
    )
    return rep.withColumn("passes", passes).orderBy("doc_id")


def quality_metric_columns(
    text_col: str = "text", rules: dict | None = None
) -> dict[str, Column]:
    """ROW-LOCAL quality metrics — the streaming-safe variant of
    :func:`quality_rules`.

    Same metric names and semantics, but the repetition rule computes the
    per-doc top-bigram count with array expressions instead of a groupBy
    (count each distinct bigram inside the row).  That is O(n²) in the
    doc's token count — right for streams and bounded-length documents;
    the batch :func:`quality_rules` aggregate form is the pick for
    arbitrarily long documents.  Returns {metric: Column} including
    ``passes``; splice into any select, batch or streaming."""
    r = {**DEFAULT_RULES, **(rules or {})}
    toks = tokens(text_col)
    sw = F.array(*[F.lit(w) for w in ALL_STOPWORDS])
    bg = F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        )
    )
    top_bg_count = F.when(F.size(bg) == 0, F.lit(0)).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda b: F.size(F.filter(bg, lambda x: x == b)),
            )
        )
    )
    n_words = F.size(toks).cast("long")
    cols: dict[str, Column] = {
        "n_words": n_words,
        "mean_word_len": F.round(
            F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
                ).cast("double")
                / F.size(toks)
            ),
            4,
        ),
        "frac_unique_words": F.round(
            F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            ),
            4,
        ),
        "stopword_hits": F.size(
            F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))
        ).cast("long"),
        "top_bigram_frac": F.round(
            F.when(n_words == 0, F.lit(0.0)).otherwise(
                (top_bg_count * 2).cast("double") / n_words
            ),
            4,
        ),
    }
    cols["passes"] = (
        (cols["n_words"] >= r["min_words"])
        & (cols["n_words"] <= r["max_words"])
        & (cols["mean_word_len"] >= r["min_mean_word_len"])
        & (cols["mean_word_len"] <= r["max_mean_word_len"])
        & (cols["frac_unique_words"] >= r["min_frac_unique_words"])
        & (cols["stopword_hits"] >= r["min_stopword_hits"])
        & (cols["top_bigram_frac"] <= r["max_top_bigram_frac"])
    )
    return cols


# ---------------------------------------------------------------------------
# Benchmark contamination
# ---------------------------------------------------------------------------

def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs sharing any word n-gram with a benchmark set (train/test leak
    screen, the n-gram-overlap decontamination from GPT-3 §C / PaLM).

    Output: (doc_id, n_shared_ngrams, n_benchmark_docs) per contaminated
    corpus doc.  Shingles are DISTINCT per doc on both sides, so a shared
    n-gram counts once however often it repeats inside either document.

    Plan: benchmark → distinct (gram, bench_id) pairs, **broadcast** (a
    benchmark suite is ~10⁴ docs; the corpus is the 100 TB side) →
    equi-join on the gram → per-doc count.  The corpus is scanned once,
    map-side joined, and only matching (doc, gram, bench) rows shuffle
    into the final per-doc agg."""
    from streamkit_spark.functions.text import word_ngrams

    c = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_ngrams(text_col, n)).alias("gram"),
    ).distinct()
    return (
        c.join(F.broadcast(b), "gram")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_shared_ngrams"),
            F.count_distinct("bench_id").alias("n_benchmark_docs"),
        )
        .orderBy("doc_id")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    max_shared: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The decontaminated corpus: drop every document sharing more than
    ``max_shared`` distinct word n-grams with the benchmark set (GPT-3
    §C removes on ANY overlap — ``max_shared=0``; a small positive value
    tolerates idiom-level collisions on short grams).

    Plan: contaminated ids come from the :func:`contamination_report`
    broadcast-join pipeline (benchmark side broadcast, corpus scanned
    once); the removal is a left-anti join on doc_id.  The contaminated
    set is normally ≪ corpus but bounded only by the contamination rate,
    and its pipeline is too expensive for a count probe — left un-hinted
    so AQE broadcasts it from the measured runtime size, while a
    heavily-contaminated corpus degrades to a shuffle anti-join instead
    of blowing the broadcast limit."""
    bad = (
        contamination_report(corpus, benchmark, n, text_col, id_col)
        .filter(F.col("n_shared_ngrams") > max_shared)
        .select(F.col("doc_id").alias("__bad_id"))
    )
    return corpus.join(bad, corpus[id_col] == F.col("__bad_id"), "left_anti")


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    n: int = 2,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS'23 §2.2): hash word
    n-grams (the occurrence multiset, not the distinct set) into B
    buckets, fit add-one-smoothed bag-of-ngrams models over buckets for
    the target and the raw corpus, and score every raw document with

        log w(x) = Σ_grams  ln p_target(b) − ln p_raw(b).

    High-weight documents look like the target distribution; resampling
    ∝ w(x) is the paper's selection step (expose the deterministic
    weights — a top-slice or Gumbel perturbation composes downstream).

    Plan: two bucket-count aggregates (≤ B rows each — broadcast), one
    map-side join of the corpus gram stream against them, one per-doc
    sum.  The corpus is scanned once and never shuffled except as
    (doc, partial-sum) combiner rows.  Output: (doc_id, n_grams, log_w
    rounded 4dp), docs with ≥ 1 n-gram only."""
    from streamkit_spark.functions.text import tokens

    def grams(df: DataFrame) -> DataFrame:
        t = tokens(text_col)
        return (
            df.select(F.col(id_col).alias("doc_id"), t.alias("__t"))
            .filter(F.size("__t") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
                    )
                ).alias("gram"),
            )
        )

    # 3 md5 nibbles → [0, 4096); byte-identical in the DuckDB twin
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("gram"))), 1, 3),
        16,
        10,
    ).cast("long")
    cg = grams(corpus).select("doc_id", bucket.alias("b"))
    # per-(doc, bucket) gram counts FIRST: the model join then touches one
    # row per distinct bucket per doc instead of one per gram, and the
    # final per-doc sum runs over cnt·lr terms folded in ascending-bucket
    # order — a DETERMINISTIC float summation.  A plain per-gram
    # F.sum(double) is partial-aggregation-order dependent, and a sum
    # landing near a 4dp rounding boundary can flip between runs/engines
    # (the exact double-sum class that flipped at a round boundary in r1).
    cgb = cg.groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
    tg = grams(target).select(bucket.alias("b"))
    ct = tg.groupBy("b").agg(F.count("*").alias("ct"))
    cr = cg.groupBy("b").agg(F.count("*").alias("cr"))
    nt = tg.agg(F.count("*").alias("Nt"))
    nr = cg.agg(F.count("*").alias("Nr"))
    B = F.lit(n_buckets)
    lr = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
        / (F.col("Nt") + B).cast("double")
    ) - F.log((F.col("cr") + 1).cast("double") / (F.col("Nr") + B).cast("double"))
    return (
        cgb.join(F.broadcast(ct), "b", "left")
        .join(F.broadcast(cr), "b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select("doc_id", "b", "cnt", (F.col("cnt") * lr).alias("__term"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("b", "__term"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x.getField("__term"),
                ),
                4,
            ).alias("log_w"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Unigram language-model scoring
# ---------------------------------------------------------------------------

def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    add-one-smoothed unigram model — the cheapest useful LM-quality score
    (the degenerate case of the perplexity filters in CCNet/Gopher; docs
    full of out-of-distribution tokens score low).

    p(w) = (count(w) + 1) / (N + V);  score(doc) = mean over tokens of
    ln p(w).  Two aggregations (vocab counts, per-doc mean) + one
    broadcast-able join of tokens against the vocab table.  The vocab
    table is |V| rows; at web scale hash-partition it instead of
    broadcasting (the join key is the token, combiners do the rest).

    Output: (doc_id, n_tokens, logprob) — logprob rounded to 4dp."""
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("N"), F.count("*").alias("V")
    )
    scored = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.log((F.col("c") + 1).cast("double") / (F.col("N") + F.col("V"))).alias(
                "__lp"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("__lp"), 4).alias("logprob"),
        )
        .orderBy("doc_id")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram model — one order up from
    :func:`unigram_logprob`; phrase-scrambled or boilerplate-spliced docs
    score low even when their unigram mix looks normal.

    p(b|a) = (c(ab) + 1) / (c_prefix(a) + V) with ``c_prefix(a)`` = a's
    count as a bigram prefix and V the full unigram vocabulary;
    score(doc) = mean ln p over the doc's bigrams.

    Plan: one in-row bigram expansion (map-only), two count aggregates
    (bigram table ≤ V², prefix table ≤ V), the bigram stream joined back
    against both (AQE broadcasts them while they fit; at web scale the
    join key is the gram and combiners do the rest — same shape as the
    DSIR bucket-model join).  Output (doc_id, n_bigrams, logprob 4dp)
    for docs with ≥ 2 tokens."""
    t = tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), t.alias("__t"))
    d = base.filter(F.size("__t") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("__t"), i).alias("a"),
                    F.element_at(F.col("__t"), i + 1).alias("b"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    cab = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    # c_prefix(a) = Σ_b c(ab): derive from the bigram counts instead of
    # re-aggregating the bg stream — one fewer branch over the
    # tokenize+explode pipeline (Catalyst plans each branch separately)
    ca = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab = base.select(F.explode("__t").alias("w")).agg(
        F.count_distinct("w").alias("V")
    )
    scored = (
        bg.join(cab, ["a", "b"])
        .join(ca, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c_ab") + 1).cast("double")
                / (F.col("c_a") + F.col("V")).cast("double")
            ).alias("__lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("__lp"), 4).alias("logprob"),
        )
        .orderBy("doc_id")
    )


def kn_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    INTERPOLATED KNESER-NEY model (Kneser & Ney 1995; Chen & Goodman
    1999 eq. 4.25) — the smoothing family behind the KenLM perplexity
    filters CCNet-style curation actually runs, one step up in realism
    from :func:`bigram_logprob`'s add-one:

        P(w|u) = (c(uw) − d)/c(u)
               + d·N1+(u,·)/c(u) · N1+(·,w)/N1+(··)

    where N1+(u,·) counts distinct continuations of u, N1+(·,w)
    distinct left-contexts of w (the "how many contexts has this word
    followed" novelty mass that makes KN better than frequency
    back-off), and N1+(··) the distinct-bigram total.  Scoring the
    training corpus itself means c(uw) ≥ 1, so the max(·,0) clamp never
    binds and every probability is strictly positive.

    Determinism contract: every count is an exact integer, ``d`` a
    Python float emitted once, each ln(P) a fixed double expression —
    and the per-doc sum folds in POSITION order (array_sort +
    aggregate; DuckDB replays with list_sum(list(lnp ORDER BY pos)) —
    the r3 fold-parity family), unlike the elder logprob ops' F.avg.

    Plan: one in-row bigram expansion; the bigram count table is
    localCheckpoint'ed (it feeds the occurrence join AND all three
    model margins — the derived-table hazard); margins are per-key
    aggregates over it (≤V rows each); the occurrence stream joins
    back on gram keys (AQE broadcasts while they fit; at web scale the
    join keys are the grams and combiners do the rest).  The input is
    ``spread`` first — a single-file corpus would run the
    tokenize+posexplode expression pass on one core (the
    classifier_gate_table lesson, fourth occurrence).  Output
    (doc_id, n_bigrams, kn_logprob 4dp) for docs with ≥ 2 tokens."""
    from streamkit_spark.functions.util import spread

    t = tokens(text_col)
    base = spread(df).select(F.col(id_col).alias("doc_id"), t.alias("__t"))
    d = base.filter(F.size("__t") >= 2)
    bg = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("__t"), i).alias("a"),
                    F.element_at(F.col("__t"), i + 1).alias("b"),
                ),
            )
        ),
    ).select(
        "doc_id",
        F.col("pos"),
        F.col("col.a").alias("a"),
        F.col("col.b").alias("b"),
    )
    cab = (
        bg.groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    # left margins in ONE pass: c(u) = Σ_b c(ub), N1+(u,·) = #distinct b
    left = cab.groupBy("a").agg(
        F.sum("c_ab").cast("long").alias("c_a"),
        F.count("*").cast("long").alias("n1f"),
    )
    right = cab.groupBy("b").agg(F.count("*").cast("long").alias("n1b"))
    nbb = cab.agg(F.count("*").cast("long").alias("n_bb"))
    dd = F.lit(float(discount))
    lnp = F.log(
        (F.col("c_ab").cast("double") - dd) / F.col("c_a").cast("double")
        + dd
        * F.col("n1f").cast("double")
        / F.col("c_a").cast("double")
        * (F.col("n1b").cast("double") / F.col("n_bb").cast("double"))
    )
    scored = (
        bg.join(cab, ["a", "b"])
        .join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(nbb))
        .select("doc_id", "pos", lnp.alias("__lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("pos", "__lp"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x.getField("__lp"),
                )
                / F.count("*").cast("double"),
                4,
            ).alias("kn_logprob"),
        )
        .orderBy("doc_id")
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lo: float = 0.25,
    hi: float = 0.75,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC'20 §3):
    split the corpus into head/middle/tail by per-document LM score —
    here the :func:`unigram_logprob` score — using the ``lo``/``hi``
    quantiles as cut points.  CCNet keeps the head for training and
    drops/deprioritizes the tail.

    Plan: the score pipeline, one exact-percentile aggregate (two
    numbers, broadcast back), a map-side bucket classification, and a
    per-bucket aggregate.  No global sort, no window — the quantile
    aggregate is the only extra pass, so the shape survives corpus scale
    (swap in approx_percentile at 100 TB if the exact percentile's
    single-reduce becomes the bottleneck; the contract is unchanged).

    Per-bucket mean goes through DECIMAL(18,4): the scores are already
    4dp-rounded, so the decimal sum is exact and partition-order
    independent (the money-aggregate lesson).

    Output: (bucket, n_docs, total_tokens, avg_logprob) — bucket in
    head/middle/tail, avg rounded 4dp."""
    scores = unigram_logprob(df, text_col, id_col)
    th = scores.agg(
        F.expr(f"percentile(logprob, {lo!r})").alias("__qlo"),
        F.expr(f"percentile(logprob, {hi!r})").alias("__qhi"),
    )
    bucket = (
        F.when(F.col("logprob") >= F.col("__qhi"), "head")
        .when(F.col("logprob") < F.col("__qlo"), "tail")
        .otherwise("middle")
    )
    return (
        scores.crossJoin(F.broadcast(th))
        .select(bucket.alias("bucket"), "n_tokens", "logprob")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum(F.col("logprob").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_logprob"),
        )
        .orderBy("bucket")
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the document's
    distinct word n-grams whose FIRST appearance in the corpus (by
    ascending doc id — the ingestion order) is this document.  A
    low-novelty document restates earlier content; curriculum/dedup
    pipelines use the score to deprioritize echo documents without
    running a full pair-level dedup.

    Plan: distinct (doc, gram) explode → min-doc-per-gram aggregate
    (map-side combined) → one equi-join back on the gram → per-doc
    counts.  Everything is two shuffles of fixed-width rows; the hot-gram
    join key skew is bounded because the (doc, gram) table is distinct —
    a gram row count equals its document frequency, and AQE's skew-join
    split handles boilerplate grams at scale.

    Output: (doc_id, n_grams, novel_grams, novelty) — novelty rounded
    4dp; docs with ≥ 1 n-gram only."""
    from streamkit_spark.functions.text import word_ngrams

    # word_ngrams is per-doc distinct, so the exploded rows are already
    # unique (doc, gram) pairs — no distinct pass needed
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    firsts = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("long")
            .alias("novel_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "novel_grams",
            F.round(F.col("novel_grams") / F.col("n_grams"), 4).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# RE2-compatible (no lookaround) so the DuckDB oracle mirrors exactly.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .]?[0-9]{0,4}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "url": r"https?://[^\s]+",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """{kind: count-of-matches} — map-only regexp_extract_all sizes."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column | str, token: str = "<PII>") -> Column:
    """Replace every PII match with ``token`` — the standard scrub pass
    before training.  Order of application is fixed (sorted kinds) so the
    result is deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in sorted(PII_PATTERNS):
        c = F.regexp_replace(c, PII_PATTERNS[kind], token)
    return c


def pii_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc PII counts + the redacted text's fingerprint, docs with any
    hit only.  Map-only; at 100 TB this fuses into the ingest scan."""
    counts = pii_counts(text_col)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
        F.md5(redact_pii(text_col)).alias("redacted_md5"),
    )
    any_hit = None
    for kind in counts:
        cond = F.col(f"n_{kind}") > 0
        any_hit = cond if any_hit is None else (any_hit | cond)
    return out.filter(any_hit).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

N_SAMPLE_BUCKETS = 65_536  # 4 md5 hex nibbles


def sample_bucket(id_col: Column | str, salt: str = "sk") -> Column:
    """Deterministic per-row bucket in [0, 65536): the first 4 hex nibbles
    of md5(salt:id).  Pure map-side expression, identical in DuckDB (see
    the oracle twin), reproducible across runs — rand() is neither."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), c.cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")


def sample_bucket_sql(id_expr: str, salt: str = "sk") -> str:
    """DuckDB twin of :func:`sample_bucket` (no hex→int cast in DuckDB —
    fold the 4 nibbles by hand)."""
    h = f"md5('{salt}:' || CAST({id_expr} AS VARCHAR))"
    nib = lambda i: f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    return f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sk",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row of stratum s with probability rates[s], decided by the
    row's deterministic hash bucket — a pure filter, no shuffle, no rand().

    The same (salt, id) always lands in the same bucket, so resampling at
    a higher rate is a superset of the lower-rate sample (nested samples —
    the property you want when growing a training mix)."""
    bucket = sample_bucket(id_col, salt)
    thresholds = F.create_map(
        *[x for s, r in sorted(rates.items()) for x in (F.lit(s), F.lit(float(r)))]
    )
    thr = F.coalesce(
        thresholds[F.col(stratum_col)], F.lit(float(default_rate))
    ) * F.lit(float(N_SAMPLE_BUCKETS))
    return df.filter(bucket.cast("double") < thr)


# ---------------------------------------------------------------------------
# Token-budget mixing plan
# ---------------------------------------------------------------------------

def assign_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    chosen by the row's md5 bucket against cumulative weight thresholds
    (weights need not sum to 1 — they are normalized).

    Same machinery as :func:`sample_bucket`, so the properties carry
    over: pure map-side expression (no shuffle, no rand()), stable
    across runs and engines, and id-keyed — a document keeps its split
    even when the corpus around it grows, which is exactly what keeps
    eval sets uncontaminated across dataset versions."""
    return df.withColumn(
        "split", _split_case(sample_bucket(id_col, salt), weights)
    )


def _split_case(bucket: Column, weights: dict[str, float] | None) -> Column:
    """The cumulative-threshold CASE over a bucket column — the ONE
    definition behind :func:`assign_split`, :func:`cluster_safe_split`
    and :func:`split_leakage_report` (the thresholds' float arithmetic
    must not fork between them)."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = float(sum(weights.values()))
    expr: Column | None = None
    acc = 0.0
    items = list(weights.items())
    for name, wt in items[:-1]:
        acc += float(wt) / total * N_SAMPLE_BUCKETS
        cond = bucket < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: NEAR-DUPLICATES MUST
    SHARE A SPLIT.  Plain id-hashed splitting (:func:`assign_split`)
    puts ~w_train·w_test of every near-dup pair across the train/test
    boundary — the classic eval-contamination mode (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §5
    measures the resulting overlap inflation).  Here the hash key is
    the document's near-dup CLUSTER representative instead of its own
    id: every member of a connected component gets the component's
    ``cluster_id`` (min doc id, from ``dedup.duplicate_clusters`` over
    the pair graph), unclustered docs key by themselves, and the split
    decision is the same deterministic md5 bucket ``assign_split``
    uses — so whole clusters move between splits atomically and the
    assignment stays stable as the corpus grows.

    Output: ``df``'s columns + ``split_key`` (the hash key actually
    used) + ``split``.

    Scale: one left join of the corpus against the cluster table
    (|clustered docs| ≪ corpus after LSH banding; AQE broadcasts the
    measured-small side), then the pure map-side bucket expression —
    no extra shuffle beyond the cluster computation itself."""
    from streamkit_spark.functions.dedup import duplicate_clusters

    # Everything on the CLUSTER side casts to the id column's type,
    # never the reverse: the equi-join must compare in the id's own
    # type (a string-id corpus joined against long cluster ids would
    # coerce the STRING side and crash/NULL under ANSI), and for
    # unclustered docs the key IS the untouched id, so plain
    # assign_split is the exact fixed point for every id type — a
    # string '007' must hash as '007', not '7' (r7 review fix).
    # duplicate_clusters emits long ids, so pairs over non-numeric ids
    # need a numeric surrogate upstream.
    id_type = dict(df.dtypes)[id_col]
    cl = duplicate_clusters(pairs).select(
        F.col("doc_id").cast(id_type).alias(id_col),
        F.col("cluster_id").cast(id_type).alias("cluster_id"),
    )
    keyed = df.join(cl, id_col, "left").withColumn(
        "split_key",
        F.coalesce(F.col("cluster_id"), F.col(id_col)),
    ).drop("cluster_id")
    return assign_split(keyed, weights, id_col="split_key", salt=salt)


def effective_token_report(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Dedup-adjusted token contribution per group: after collapsing
    each near-dup connected component to its min-id representative
    (Lee et al. 2022 cluster-collapse semantics via
    ``dedup.duplicate_clusters``), how many tokens does each source
    ACTUALLY contribute?  ``(group, n_docs, n_kept, total_tokens,
    effective_tokens, effective_ratio)`` — the honest input to
    mixture planning: a source whose effective_ratio is 0.5 delivers
    half the unique mass its raw token count claims, and a
    token-budget mixture built on raw counts over-weights it.

    Counts and token sums are exact integers; the ratio is one double
    division rounded 4dp.  A cluster representative keeps its own
    group, so a cross-source cluster credits the representative's
    source (the same canonical-doc semantics dedup_keep_canonical
    applies to the corpus itself).

    Scale: one corpus scan for token counts, the cluster computation
    (|pairs|-bounded), one broadcast-size left join, one group
    aggregate."""
    from streamkit_spark.functions.dedup import duplicate_clusters
    from streamkit_spark.functions.text import token_count

    id_type = dict(df.dtypes)[id_col]
    cl = duplicate_clusters(pairs).select(
        F.col("doc_id").cast(id_type).alias(id_col),
        F.col("cluster_id").cast(id_type).alias("__cl"),
    )
    keyed = df.select(
        F.col(id_col),
        F.col(group_col).alias("__g"),
        token_count(text_col).cast("long").alias("__tok"),
    ).join(cl, id_col, "left")
    kept = F.col("__cl").isNull() | (F.col("__cl") == F.col(id_col))
    ratio = F.col("effective_tokens").cast("double") / F.col(
        "total_tokens"
    ).cast("double")
    return (
        keyed.groupBy("__g")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum("__tok").cast("long").alias("total_tokens"),
            F.sum(F.when(kept, F.col("__tok")).otherwise(0))
            .cast("long")
            .alias("effective_tokens"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_docs",
            "n_kept",
            "total_tokens",
            "effective_tokens",
            F.round(
                F.when(F.col("total_tokens") > 0, ratio), 4
            ).alias("effective_ratio"),
        )
        # NULLS LAST pinned on both engines: Spark defaults NULLS FIRST
        # on ASC, DuckDB NULLS LAST — a NULL source would silently shift
        # every row of the ordered report (the r5 windowed-oracle edge)
        .orderBy(F.col(group_col).asc_nulls_last())
    )


def split_leakage_report(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Quantify eval contamination from split hashing: of the near-dup
    pairs in ``pairs``, how many STRADDLE two different splits under
    (a) plain id-hashed assignment and (b) the cluster-keyed
    :func:`cluster_safe_split`?  One row:
    ``(n_pairs, leaked_id_hash, leaked_cluster_hash)``.

    ``leaked_cluster_hash`` is 0 BY CONSTRUCTION (both endpoints of a
    pair share a connected component, hence a split key) — the report
    exists to make the id-hash baseline's leak count visible next to
    it, and as a regression tripwire if the keying ever breaks.

    Scale: ONE keyed table carrying both bucket columns (the oracle's
    ``assigned`` CTE shape), one pair double-join, one aggregate —
    bounded by |pairs| ≪ corpus.  ``pairs`` is checkpointed first: it
    feeds duplicate_clusters AND the pair join, and an LSH pair
    pipeline re-planned per branch is the repo's canonical derived-
    table hazard."""
    pairs = pairs.localCheckpoint(eager=False)
    assigned = cluster_safe_split(
        df.select(id_col), pairs, weights, id_col=id_col, salt=salt
    ).select(
        F.col(id_col).alias("__id"),
        _split_case(sample_bucket(id_col, salt), weights).alias("__sp"),
        F.col("split").alias("__ss"),
    )
    # the pair ids join in the ID COLUMN'S type (the cluster_safe_split
    # discipline): a long-vs-string equi-join would coerce the string
    # side under ANSI — crash on 'doc-9', conflate '007' with 7
    id_type = dict(df.dtypes)[id_col]
    j = (
        pairs.select(
            F.col("id_a").cast(id_type).alias("id_a"),
            F.col("id_b").cast(id_type).alias("id_b"),
        )
        .join(
            assigned.select(
                F.col("__id").alias("id_a"),
                F.col("__sp").alias("__spa"),
                F.col("__ss").alias("__ssa"),
            ),
            "id_a",
        )
        .join(
            assigned.select(
                F.col("__id").alias("id_b"),
                F.col("__sp").alias("__spb"),
                F.col("__ss").alias("__ssb"),
            ),
            "id_b",
        )
    )
    # coalesce(..., 0): an empty pair set must read (0, 0, 0), not
    # NULLs — 'leaked_cluster_hash == 0' is the advertised tripwire
    # and NULL comparisons would silently never fire (r7 review fix)
    return j.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(F.col("__spa") != F.col("__spb"), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("leaked_id_hash"),
        F.coalesce(
            F.sum(
                F.when(F.col("__ssa") != F.col("__ssb"), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("leaked_cluster_hash"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    k: int = 100,
    id_col: str = "doc_id",
    salt: str = "ws",
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — k rows drawn
    with probability ∝ weight (Efraimidis & Spirakis, "Weighted random
    sampling with a reservoir", IPL 2006: rank by u^(1/w)).  Computed in
    the LOG domain — ``skey = ln(u) / w`` is order-equivalent and uses
    only ln + division, avoiding cross-engine pow() discrepancies.

    ``u`` derives from the row's md5 bucket ((bucket + 0.5) / 65536), so
    the draw is reproducible across runs and engines, and re-running
    with a larger ``k`` extends the sample without reshuffling it (the
    per-row keys don't change).  This is the resampling step
    :func:`dsir_weights` defers: pass ``exp(log_w)``-style weights (any
    positive weight column works).

    Plan: map-only key computation + a global TakeOrdered(k) — no full
    sort, no shuffle beyond the k-row reduction.  With ``group_col``,
    the draw is k PER GROUP instead (window rank partitioned by the
    group — the weighted counterpart of :func:`cap_per_group`)."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (sample_bucket(id_col, salt) + F.lit(0.5)) / F.lit(float(N_SAMPLE_BUCKETS))
    skey = F.log(u) / w.cast("double")
    keyed = df.filter(w > 0).withColumn("skey", skey)
    if group_col is None:
        return keyed.orderBy(F.col("skey").desc(), F.col(id_col)).limit(k)
    win = Window.partitionBy(group_col).orderBy(
        F.col("skey").desc(), F.col(id_col)
    )
    return (
        keyed.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    k: int = 100,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``k`` rows per group,
    chosen by ascending md5(salt:id) — a reproducible uniform draw (the
    per-source cap that stops one crawl domain from dominating a
    training mix; the :func:`sample_bucket` nesting property holds here
    too: a larger ``k`` keeps a superset).

    Adds ``cap_rank`` (1-based position in the group's hash order).
    Plan: one window partitioned by the group — rank state is per-group
    and the sort is partition-local.  For groups ≫ k at the 100 TB end,
    swap in a two-pass threshold (per-group approx-quantile of the hash
    at k/|g|, then a map-only filter) — same output distribution, no
    full per-group sort; the exact rank path is the verifiable
    baseline."""
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= k)
    )


def mixing_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source sampling plan to hit a token budget at target mix weights.

    For each source: available tokens, target tokens (budget × weight /
    Σweights), and the sampling rate min(1, target/available).  One
    per-source aggregation — the plan table is driver-scale (#sources
    rows) and feeds :func:`stratified_sample` keyed on source.

    Output: (source, n_docs, n_tokens, weight, target_tokens, rate)."""
    wsum = sum(weights.values())
    wmap = F.create_map(
        *[
            x
            for s, w in sorted(weights.items())
            for x in (F.lit(s), F.lit(float(w) / wsum))
        ]
    )
    per_src = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(tokens(text_col)).cast("long").alias("__nt"),
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("__nt").alias("n_tokens"))
    )
    weight = F.coalesce(wmap[F.col("source")], F.lit(0.0))
    target = F.floor(weight * F.lit(float(token_budget))).cast("long")
    rate = F.round(
        F.least(
            F.lit(1.0),
            target.cast("double") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
        ),
        4,
    )
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(weight, 4).alias("weight"),
        target.alias("target_tokens"),
        rate.alias("rate"),
    ).orderBy("source")


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.7,
    budget_docs: int = 1000,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sk",
) -> DataFrame:
    """Temperature-based stratum rebalancing: sample stratum ``s`` at a
    rate proportional to ``n_s^alpha / n_s``, normalized so the expected
    kept total is ``budget_docs`` — the multilingual upsampling scheme of
    mBERT / XLM-R (Conneau & Lample, NeurIPS'19 §3.1): ``alpha < 1``
    flattens the distribution, boosting low-resource strata relative to
    their raw frequency, without ever upweighting a stratum past rate 1.

    Decisions reuse the deterministic md5 bucket of
    :func:`stratified_sample` (nested samples, no rand()); rates are
    rounded to 6 decimals on both engines so the bucket comparison can't
    straddle a float ulp.  Plan: one tiny per-stratum count aggregate,
    broadcast back as a rate table, then a pure map-side filter — no
    second shuffle of the corpus."""
    counts = df.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.count("*").alias("__n")
    )
    wsum = counts.agg(F.sum(F.pow("__n", F.lit(alpha))).alias("__wsum"))
    rates = counts.crossJoin(F.broadcast(wsum)).select(
        "__s",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(budget_docs))
                * F.pow("__n", F.lit(alpha))
                / F.col("__wsum")
                / F.col("__n"),
            ),
            6,
        ).alias("__rate"),
    )
    bucket = sample_bucket(id_col, salt)
    return (
        df.join(F.broadcast(rates), df[stratum_col] == F.col("__s"))
        .filter(bucket.cast("double") < F.col("__rate") * F.lit(float(N_SAMPLE_BUCKETS)))
        .drop("__s", "__rate")
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chop) via distributed prefix sum
# ---------------------------------------------------------------------------

def prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "offset",
    bucket_width: int = 4096,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``val_col`` in ``order_col`` order, without a
    global single-partition window.

    Two levels: (1) bucket rows by ``order_col // bucket_width`` and window
    *within* each bucket (parallel across buckets); (2) aggregate one total
    per bucket and window over the bucket totals — a table of
    N/bucket_width rows, driver-scale even at 100 TB row counts with a
    sane width — then broadcast the per-bucket bases back.  The naive
    ``Window.orderBy(order_col)`` form puts every row through ONE task;
    this form's only full-data shuffle is the bucket-keyed window.

    ``order_col`` must be numeric and unique (doc ids).  The sum is exact
    (longs)."""
    bkt = (F.col(order_col) / F.lit(bucket_width)).cast("long")
    rows = df.withColumn("__bkt", bkt)

    totals = rows.groupBy("__bkt").agg(F.sum(val_col).alias("__tot"))
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.select(
        "__bkt", F.coalesce(F.sum("__tot").over(wb), F.lit(0)).alias("__base")
    )

    wi = Window.partitionBy("__bkt").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        rows.join(F.broadcast(bases), "__bkt")
        .withColumn(
            out_col,
            (F.col("__base") + F.coalesce(F.sum(val_col).over(wi), F.lit(0))).cast(
                "long"
            ),
        )
        .drop("__bkt", "__base")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_width: int = 4096,
) -> DataFrame:
    """Assign documents to fixed-size context windows by concat-and-chop:
    documents are laid out in ``id_col`` order and the token stream is cut
    every ``budget`` tokens (the standard GPT-style pre-training packing —
    no per-bin search, deterministic, and streamable).

    Output per doc: (doc_id, n_tokens, offset, pack_id, pack_pos,
    straddles) where ``offset`` is the doc's global token offset,
    ``pack_id = offset // budget``, ``pack_pos = offset % budget`` and
    ``straddles`` marks docs chopped by a window boundary.  Built on
    :func:`prefix_sum` — see there for why this scales."""
    with_tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    out = prefix_sum(
        with_tokens, "doc_id", "n_tokens", out_col="offset", bucket_width=bucket_width
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "offset",
        (F.col("offset") / budget).cast("long").alias("pack_id"),
        (F.col("offset") % budget).alias("pack_pos"),
        ((F.col("offset") % budget) + F.col("n_tokens") > budget).alias("straddles"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier (fastText-style scoring)
# ---------------------------------------------------------------------------

#: Bucket count of the hashed feature space — 3 md5 nibbles, the same
#: convention (and DuckDB mirror) as :func:`dsir_weights`.
N_QC_BUCKETS = 4096


def _qc_bucket(tok: Column, salt: str) -> Column:
    """Token → feature bucket in [0, 4096): 3 md5 hex nibbles of
    ``salt:token`` — byte-identical in the DuckDB twin."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), tok)), 1, 3), 16, 10
    ).cast("long")


def _qc_tokens(text_col: str) -> Column:
    # NULL text tokenizes to NULL; coalesce to empty so every scoring
    # path treats a NULL-text doc as zero tokens (score = bias)
    return F.coalesce(tokens(text_col), F.array().cast("array<string>"))


def classifier_score_column(
    text_col: str = "text", salt: str = "qc", bias: float = 0.0
) -> Column:
    """The stand-in-model classifier score as ONE in-row Column — pure
    map expression (exact dyadic fold, see
    :func:`quality_classifier_score`), so it splices into batch selects
    AND streaming plans with zero state."""
    toks = _qc_tokens(text_col)
    w_of = lambda t: (
        ((_qc_bucket(t, salt) * F.lit(2654435761)) % N_QC_BUCKETS).cast(
            "double"
        )
        / F.lit(float(N_QC_BUCKETS))
        - F.lit(0.5)
    )
    raw = F.aggregate(
        F.transform(toks, w_of), F.lit(0.0), lambda acc, x: acc + x
    )
    n = F.size(toks)
    return F.when(n == 0, F.lit(float(bias))).otherwise(
        F.lit(float(bias)) + raw / n.cast("double")
    )


def quality_classifier_score(
    df: DataFrame,
    weights: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qc",
    bias: float = 0.0,
    cutoff: float = 0.0,
) -> DataFrame:
    """Linear quality-classifier scoring over hashed unigram features —
    the shape of fastText / logistic-regression quality filters in
    CCNet-style curation (classifier-based filtering as in GPT-3 §A):
    score(doc) = bias + mean(weight[bucket(token)]), keep = score ≥ cutoff.

    Two weight sources:

    * ``weights=None`` — a deterministic stand-in model: weight(b) =
      ((b · 2654435761) mod 4096) / 4096 − 0.5 (Knuth multiplicative
      scatter).  Zero-join, map-only: the whole model is one in-row
      expression folded over the token array in document order.  Every
      weight is a dyadic rational (k/4096 − 1/2), so the fold sum is
      EXACT in double — no summation-order sensitivity on either engine.
      This is the oracle-checked path; swap in trained weights for
      production use.
    * ``weights=DataFrame(bucket, weight)`` — a real (trained) model:
      tokens explode to (doc, pos, bucket), broadcast-join the ≤4096-row
      weight table, then a per-doc position-sorted fold (deterministic
      summation, the dsir pattern).

    Both paths are one corpus scan; the model is O(4096) whatever the
    corpus size, so at 100 TB this is a pure map stage (plus one
    doc-keyed combine for the join path).

    Output: (doc_id, n_tokens, score rounded 4dp, keep).
    """
    toks = _qc_tokens(text_col)
    if weights is None:
        n = F.size(toks)
        score = classifier_score_column(text_col, salt=salt, bias=bias)
        return df.select(
            F.col(id_col).alias("doc_id"),
            n.cast("long").alias("n_tokens"),
            F.round(score, 4).alias("score"),
            (F.round(score, 4) >= F.lit(float(cutoff))).alias("keep"),
        ).orderBy("doc_id")

    ex = df.select(F.col(id_col).alias("doc_id"), F.posexplode(toks)).select(
        "doc_id", F.col("pos"), _qc_bucket(F.col("col"), salt).alias("bucket")
    )
    scored = (
        ex.join(F.broadcast(weights), "bucket", "left")
        .select("doc_id", "pos", F.coalesce("weight", F.lit(0.0)).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                F.lit(0.0),
                lambda acc, x: acc + x.getField("w"),
            ).alias("__raw"),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    score = F.lit(float(bias)) + F.coalesce(
        F.col("__raw") / F.col("n_tokens").cast("double"), F.lit(0.0)
    )
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(score, 4).alias("score"),
            (F.round(score, 4) >= F.lit(float(cutoff))).alias("keep"),
        )
        .orderBy("doc_id")
    )


def classifier_gate_table(
    df: DataFrame,
    bias: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The canonical classifier-score ⋈ rule-gate table
    ``(doc_id, score, passes)`` every classifier-diagnostic consumer
    shares — score_calibration, classifier_auc, gate_kappa,
    calibration_ece/brier, and the dg_gate_kappa / dg_calibration SQL
    views all read THIS definition, so a bias or rule change can never
    desynchronize them.

    The input is ``spread`` first: a single-file corpus would run BOTH
    expression-heavy branches (per-token md5 scoring; the rule metrics
    + bigram explode) on one core (the zorder_stats/brute-kNN lesson —
    measured 1.8x on calibration_ece at sf0.1).  Results are unchanged:
    every expression is per-row deterministic and every aggregate
    exact.  The rule and bigram branches push no filter of their own
    below the repartition, so they read one shared exchange; a consumer
    filter on ``score`` (a NULL-score drop) still gives the score branch
    its own scan."""
    from streamkit_spark.functions.util import spread

    df = spread(df)
    scored = quality_classifier_score(
        df, bias=bias, text_col=text_col, id_col=id_col
    ).select("doc_id", "score")
    labels = quality_rules(df, text_col=text_col, id_col=id_col).select(
        "doc_id", "passes"
    )
    return scored.join(labels, "doc_id")


# ---------------------------------------------------------------------------
# Boilerplate segment analysis / removal (CCNet-style line dedup)
# ---------------------------------------------------------------------------

def segment_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    block_tokens: int | None = None,
) -> DataFrame:
    """(doc_id, pos, segment) — the unit table for boilerplate analysis.

    Two segmentations:

    * ``sep`` (default newline) — real-corpus lines/paragraphs, the CCNet
      unit: split on the regex, trim, drop empties.  ``pos`` preserves the
      original order for reconstruction.
    * ``block_tokens=B`` — fixed-width non-overlapping token blocks, for
      corpora without layout separators (and the oracle-checked fixture
      path): block i = tokens [i·B, (i+1)·B).  The trailing partial block
      is kept — dropping it would let boilerplate hide in tails.

    Segments are normalize-compared lowercased (dedup convention).
    """
    if block_tokens is not None:
        if block_tokens < 1:
            raise ValueError("block_tokens must be >= 1")
        # NULL text tokenizes to NULL (size -1 — the ==0 guard would let
        # sequence(1, 0) run DESCENDING and emit phantom '' blocks);
        # coalesce to empty like quality_classifier_score
        toks = F.coalesce(
            tokens(F.col(text_col)), F.array().cast("array<string>")
        )
        nblk = F.ceil(F.size(toks) / F.lit(block_tokens)).cast("int")
        # guard: sequence(1, 0) runs DESCENDING — empty docs get no blocks
        blocks = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), nblk),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, (i - F.lit(1)) * block_tokens + 1, block_tokens)
                ),
            )
        )
        seg = df.select(
            F.col(id_col).alias("doc_id"), F.posexplode(blocks)
        ).select("doc_id", F.col("pos"), F.col("col").alias("segment"))
    else:
        segs = F.split(F.col(text_col), sep)
        seg = (
            df.select(F.col(id_col).alias("doc_id"), F.posexplode(segs))
            .select("doc_id", F.col("pos"), F.trim(F.col("col")).alias("segment"))
            .filter(F.col("segment") != "")
        )
    # segment: ORIGINAL text (rebuilds preserve case); segment_norm: the
    # lowercased comparison key (dedup convention — boilerplate matching
    # is case-insensitive)
    return seg.withColumn("segment_norm", F.lower(F.col("segment")))


def boilerplate_segments(
    df: DataFrame,
    min_df: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    block_tokens: int | None = None,
) -> DataFrame:
    """Segments appearing in ≥ ``min_df`` distinct documents — the
    boilerplate head (nav bars, cookie banners, license headers).
    Output: (segment, n_docs, n_occurrences), most-shared first.

    One shuffle keyed by segment; hot segments are exactly the
    boilerplate being measured and their per-key state is two counters
    (partial-aggregable), so skew is harmless."""
    seg = segment_table(df, text_col, id_col, sep, block_tokens)
    return (
        seg.groupBy(F.col("segment_norm").alias("segment"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_df)
        .orderBy(F.col("n_docs").desc(), "segment")
    )


def remove_boilerplate(
    df: DataFrame,
    min_df: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    block_tokens: int | None = None,
    join_sep: str = "\n",
) -> DataFrame:
    """Rebuild each document without its boilerplate segments (segments
    shared by ≥ ``min_df`` docs) — CCNet/C4 line-level dedup as a
    document transform.

    Plan: segment table → per-segment doc frequency computed IN the same
    scan with windows over the segment partitioning (max of dense_rank
    by doc_id = COUNT DISTINCT; a separate groupBy would self-join the
    derived segment table and re-plan its posexplode pipeline per branch
    — the documented bimodal-runtime trap) → per-doc position-sorted
    rebuild.  The window sorts spill (UnsafeExternalSorter) so a hot
    boilerplate segment costs a big sorted run, not executor memory.
    The collect_list/array_sort aggregate is the determinism barrier:
    reconstruction order is exact whatever the shuffle order.

    Output: (doc_id, n_segments, n_removed, clean_text).
    """
    seg = segment_table(df, text_col, id_col, sep, block_tokens)
    w_seg = Window.partitionBy("segment_norm")
    dr = F.dense_rank().over(w_seg.orderBy("doc_id"))
    return (
        seg.withColumn("__dr", dr)
        .withColumn("__df", F.max("__dr").over(w_seg))
        .select("doc_id", "pos", "segment", (F.col("__df") >= min_df).alias("__bp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum(F.col("__bp").cast("long")).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "__bp", "segment"))
                        ),
                        lambda x: ~x.getField("__bp"),
                    ),
                    lambda x: x.getField("segment"),
                ),
                join_sep,
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Token-budget mixture planning
# ---------------------------------------------------------------------------

def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Deficit/epoch view of :func:`mixing_plan` — the pretraining-recipe
    bookkeeping (GPT-3 Table 2.2 / Pile-style weights): per source, the
    available tokens, the mixture's ask, the sampling rate (< 1 =
    downsample), the token DEFICIT and the number of EPOCHS (> 1 =
    repeat the source).  All arithmetic is the ONE shared
    :func:`mixing_plan` definition (exact long token sums, one double
    multiply + floor), so the two planners cannot drift; this view
    additionally DROPS sources absent from ``weights`` (mixing_plan
    keeps them at weight 0) and empty sources.

    Output: (group, available_tokens, target_tokens, rate 4dp, deficit,
    epochs), sorted by group."""
    if float(sum(weights.values())) <= 0:
        raise ValueError("weights must sum to a positive value")
    base = mixing_plan(
        df, weights, budget_tokens, source_col=group_col, text_col=text_col
    )
    return (
        base.filter(
            F.col("source").isin(*sorted(weights))
            & (F.col("n_tokens") > 0)
        )
        .select(
            F.col("source").alias(group_col),
            F.col("n_tokens").alias("available_tokens"),
            "target_tokens",
            "rate",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("target_tokens") - F.col("n_tokens"),
            ).alias("deficit"),
            F.ceil(
                F.col("target_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).cast("long").alias("epochs"),
        )
        .orderBy(group_col)
    )


def apply_mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """MATERIALIZE the mixture :func:`mixture_plan` describes: every doc
    of source s appears ``target div available`` times (full epochs)
    plus one md5-selected fractional copy, so the kept token count per
    source lands on the target in expectation — the executable step
    between "plan the mix" and "train on it".

    Determinism: the fractional keep compares the doc's
    :func:`sample_bucket` against the remainder in EXACT integer
    cross-multiplied form (``bucket·available < rem·65536`` — no float
    thresholds), and replica indices come from an explicit ``epoch``
    column (0-based), so the output is stable across runs/engines and
    nested in the budget (a bigger budget's fractional copies are a
    superset — the stratified_sample property).  Plan shape: one
    broadcast join of the #sources-row plan + a per-row explode; no
    shuffle beyond mixture_plan's own token count.

    Output: input columns + ``epoch``; ``sequence`` is only built for
    rows with ≥ 1 copy (the sequence(1,0)-descends trap)."""
    plan = mixture_plan(df, weights, budget_tokens, group_col, text_col)
    j = df.join(
        F.broadcast(
            plan.select(group_col, "available_tokens", "target_tokens")
        ),
        group_col,
    )
    full = F.expr("target_tokens div available_tokens")
    rem = F.col("target_tokens") - full * F.col("available_tokens")
    bucket = sample_bucket(id_col, salt)
    extra = (bucket * F.col("available_tokens")) < (
        rem * F.lit(N_SAMPLE_BUCKETS)
    )
    n_copies = (full + F.when(extra, 1).otherwise(0)).cast("int")
    return (
        j.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1))
        )
        .drop("__n", "available_tokens", "target_tokens")
    )
