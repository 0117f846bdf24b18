"""Text-analysis column functions for LLM-data pipelines.

All hot-path functions are built-in ``pyspark.sql.functions`` expressions
(JVM-side, whole-stage-codegen'd) — no Python UDFs.  Every function returns
a Column so it composes into declarative plans that Catalyst can push
around; on 100 TB these run as map-only stages with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Small multilingual stopword lists for the n-gram/stopword language
# heuristic.  Deterministic, dependency-free; precision is secondary to
# having a fully-declarative scoring pipeline.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with", "as", "at"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "en", "est", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein", "zu", "auf"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "人", "这", "中", "大"],
}

DEFAULT_STOPWORDS = STOPWORDS["en"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank text).

    ``array_remove(split(col, '\\s+'), '')`` rather than trim-then-split:
    ``trim`` strips only 0x20 spaces, so tab/newline-padded text would emit
    empty-string tokens at the edges (Java ``split`` keeps leading empties,
    and Spark's SQL ``split`` defaults to limit=-1 which keeps trailing
    ones too).  Removing empties after the split handles any whitespace
    flavor, blank strings, and NULLs in one codegen'd expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, r"\s+"), "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the cheap proxy; see ``bpe_token_estimate``)."""
    return F.size(tokens(col))


def bpe_token_estimate(col: Column | str) -> Column:
    """BPE-ish token estimate without a tokenizer dependency: count
    word-piece-shaped units — alphanumeric runs and single non-space
    punctuation marks.  Matches the common ~chars/4 heuristic far better
    than whitespace count on code/punctuation-heavy text.  (RE2-compatible
    pattern — no lookaround — so the DuckDB oracle can mirror it.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (deduplicated).

    Pure JVM expression: transform over an index sequence + slice +
    concat_ws — the building block for Jaccard/MinHash dedup."""
    toks = tokens(col)
    # guard: sequence(1, 0) would run DESCENDING ([1, 0]) and slice(_, 0, n)
    # errors — short texts get an empty shingle set instead
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles (lowercased), array<string> distinct."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: F.substring(c, i, n),
        )
    )


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint = md5 of the normalized text.
    (The reference's analog is content-addressed payload identity; md5 keeps
    the oracle cross-checkable — DuckDB md5 produces identical hex.)"""
    return F.md5(normalized_text(col))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in (stopwords or DEFAULT_STOPWORDS)])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks)
    )


def avg_token_length(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c)
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards moderate length, normal
    word length, some stopwords; penalizes punctuation soup.  Weights are
    arbitrary but fixed — downstream filtering just needs a stable ordering."""
    ntok = token_count(col).cast("double")
    len_score = F.least(ntok / F.lit(100.0), F.lit(1.0))
    wl = avg_token_length(col)
    wl_score = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_score = F.least(stopword_ratio(col) * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(col) * 4, F.lit(0.0))
    return (len_score * 0.3 + wl_score * 0.2 + sw_score * 0.3 + punct_pen * 0.2)


def lang_scores(col: Column | str) -> Column:
    """array<struct<score double, lang string>> of stopword-hit ratios."""
    toks = tokens(col)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    def contains(sw):
        # factory closure: a 2-arg lambda would be treated by PySpark as
        # the (element, index) form, so bind sw here
        return lambda t: F.array_contains(sw, F.lower(t))

    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, contains(sw)))
        scores.append(F.struct((hits / n).alias("score"), F.lit(lang).alias("lang")))
    return F.array(*scores)


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax stopword-hit ratio, ties broken by
    lang code descending (struct max is lexicographic) — deterministic."""
    return F.array_max(lang_scores(col)).getField("lang")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: attach the standard text-analysis columns."""
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("avg_token_len", avg_token_length(c))
        .withColumn("stopword_ratio", stopword_ratio(c))
        .withColumn("punct_ratio", punct_ratio(c))
        .withColumn("quality", quality_score(c))
        .withColumn("fingerprint", fingerprint(c))
    )


def tf_idf_top_terms(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> "DataFrame":
    """Top-k TF-IDF terms per document.

    tf = count(term in doc) / len(doc); idf = ln((N+1)/(df+1)) + 1
    (smoothed).  Three aggregations, all partial-aggregable; the doc-count
    N is a broadcast scalar.  Output: (doc_id, term, tfidf, rank).
    """
    from pyspark.sql import DataFrame, Window

    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    doc_len = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("n"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count_distinct(id_col).alias("n_docs"))
    scored = (
        tf.join(doc_len, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("n") / F.col("n_tok"))
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


def _term_doc_stats(
    df: "DataFrame",
    query_terms: list[str],
    text_col: str,
    id_col: str,
) -> tuple[list[str], "DataFrame", "DataFrame"]:
    """Shared retrieval base for :func:`bm25_topk` and :func:`ql_topk`:
    ONE tokenize pass → ONE doc-keyed aggregate (dl + per-query-term
    conditional tf sums — the inverted-index probe as map-side-combined
    columns) → ONE stats row carrying N, Σdl, per-term df AND cf.
    Returns (sorted_terms, per_doc, stats); per_doc is checkpointed —
    it feeds both the stats aggregate and the scoring join (the
    2-branch re-plan hazard)."""
    from streamkit_spark.functions.util import spread

    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("retrieval needs at least one query term")
    tok = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    aggs = [F.count("*").cast("long").alias("dl")] + [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"tf_{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs).localCheckpoint()
    stat_aggs = [
        F.sum("dl").cast("long").alias("sum_dl"),
        F.count("*").cast("long").alias("n_docs"),
    ] + [
        F.sum((F.col(f"tf_{i}") > 0).cast("int"))
        .cast("long")
        .alias(f"df_{i}")
        for i in range(len(terms))
    ] + [
        F.sum(f"tf_{i}").cast("long").alias(f"cf_{i}")
        for i in range(len(terms))
    ]
    return terms, per_doc, per_doc.agg(*stat_aggs)


def _top_ranked(
    scored: "DataFrame", id_col: str, top_k: int, out_cols: list[str]
) -> "DataFrame":
    """Shared ranked-top-k tail: top-k FIRST via orderBy+limit (Spark's
    distributed TakeOrdered), THEN a row_number window over the ≤ top_k
    survivors — a global rank window over the full candidate set would
    single-partition-sort every matching row at scale.  Order is
    (score DESC, id) over the already-rounded score."""
    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(*out_cols)
        .orderBy("rank")
    )


def bm25_topk(
    df: "DataFrame",
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    round_digits: int = 4,
) -> "DataFrame":
    """BM25 keyword retrieval: top-k documents for a bag of query terms
    (Robertson-Spärck Jones; the Lucene-default scoring shape).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) — the +1 keeps idf
    positive even for terms in most documents (Lucene's robust form).

    Scale shape: ONE tokenize-explode pass over the corpus feeds ONE
    doc-keyed aggregate computing dl AND the per-query-term tfs as
    conditional sums (query terms are a handful of literals — this is
    the inverted-index probe expressed as map-side-combined columns,
    never a per-term scan).  Corpus stats (N, avgdl, per-term df)
    reduce to ONE broadcast row.  Every count is exact BIGINT; the
    float steps are the per-term idf/norm expressions, summed in
    FIXED sorted-term order (a literal left-to-right expression, no
    float reduction across rows), so the oracle replays the score
    bit-for-bit.  Ranking rounds the score first, then breaks ties by
    doc id (the pq_topk determinism discipline).

    Output: (doc_id, n_hit, score, rank), rank 1..top_k over documents
    containing ≥1 query term."""
    terms, per_doc, stats = _term_doc_stats(df, query_terms, text_col, id_col)
    k1l, one_b, bl, k1p1 = (
        F.lit(float(k1)),
        F.lit(1.0 - float(b)),
        F.lit(float(b)),
        F.lit(float(k1) + 1.0),
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = k1l * (one_b + bl * (F.col("dl").cast("double") / avgdl))
    score = None
    n_hit = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        term_score = idf * ((tf * k1p1) / (tf + norm))
        hit = (F.col(f"tf_{i}") > 0).cast("long")
        score = term_score if score is None else score + term_score
        n_hit = hit if n_hit is None else n_hit + hit
    scored = (
        per_doc.join(F.broadcast(stats))
        .select(
            "doc_id",
            n_hit.alias("n_hit"),
            F.round(score, round_digits).alias("score"),
        )
        .filter(F.col("n_hit") > 0)
    )
    return _top_ranked(scored, "doc_id", top_k, ["doc_id", "n_hit", "score", "rank"])


def ql_topk(
    df: "DataFrame",
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mu: float = 100.0,
    top_k: int = 10,
    round_digits: int = 4,
) -> "DataFrame":
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    SIGIR'01) — the language-modeling scorer next to :func:`bm25_topk`:
    score(d) = Σ_t ln((tf + μ·cf_t/|C|) / (dl + μ)), the log
    probability of the query under the document's smoothed unigram
    model.  μ trades document evidence against the collection prior
    (set it near the typical document length).

    Shares :func:`_term_doc_stats`' one-pass aggregate (dl + tf per
    term; collection stats cf_t and |C| ride the same broadcast row).
    Candidates are documents containing ≥ 1 query term (the standard
    pruning: no-hit documents differ only through their length prior).
    Every count is exact BIGINT; the per-term ln terms evaluate in
    FIXED sorted-term order, replayable bit-for-bit.

    Output: (doc_id, n_hit, score, rank) — score is a log-probability
    (negative; higher is better)."""
    terms, per_doc, stats = _term_doc_stats(df, query_terms, text_col, id_col)
    mul = F.lit(float(mu))
    score = None
    n_hit = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        pc = F.col(f"cf_{i}").cast("double") / F.col("sum_dl").cast("double")
        # a term absent from the WHOLE corpus (cf=0 ⇒ every tf=0) has
        # zero smoothed mass: ln(0) would NULL every candidate's score
        # (and the oracle's ln would raise) — it contributes 0 instead,
        # mirroring bm25's graceful handling of unknown terms
        term = F.when(
            F.col(f"cf_{i}") > 0,
            F.log((tf + mul * pc) / (F.col("dl").cast("double") + mul)),
        ).otherwise(F.lit(0.0))
        hit = (F.col(f"tf_{i}") > 0).cast("long")
        score = term if score is None else score + term
        n_hit = hit if n_hit is None else n_hit + hit
    scored = (
        per_doc.join(F.broadcast(stats))
        .select(
            "doc_id",
            n_hit.alias("n_hit"),
            F.round(score, round_digits).alias("score"),
        )
        .filter(F.col("n_hit") > 0)
    )
    return _top_ranked(scored, "doc_id", top_k, ["doc_id", "n_hit", "score", "rank"])


def rrf_fuse(
    rankings: list["DataFrame"],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_k: int = 10,
    round_digits: int = 6,
) -> "DataFrame":
    """Reciprocal-rank fusion of N rankings (Cormack, Clarke &
    Büttcher SIGIR'09): score(d) = Σ_r 1/(k + rank_r(d)), the
    training-free way to combine a lexical (BM25) and a dense (ANN)
    retriever — robust because only RANKS enter, never incomparable
    scores.  A document missing from a ranking contributes 0 (the
    standard convention); k=60 is the paper's constant.

    Each input must carry (id_col, rank_col) with ranks 1-based.  The
    inputs are top-k lists (bounded — this is a fusion of retriever
    OUTPUTS, not corpora), so the N−1 outer joins are trivially
    broadcastable and the float sum is a FIXED left-to-right
    expression over the list order, replayable bit-for-bit.  Ties
    after rounding break by id; top-k via orderBy+limit
    (TakeOrdered).

    Output: (id_col, n_lists, score, rank)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    joined = None
    for i, r in enumerate(rankings):
        side = r.select(
            F.col(id_col).alias("__id"),
            F.col(rank_col).cast("double").alias(f"__r{i}"),
        )
        joined = side if joined is None else joined.join(
            side, "__id", "full_outer"
        )
    score = None
    n_lists = None
    for i in range(len(rankings)):
        term = F.when(
            F.col(f"__r{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"__r{i}")),
        ).otherwise(F.lit(0.0))
        hit = F.col(f"__r{i}").isNotNull().cast("long")
        score = term if score is None else score + term
        n_lists = hit if n_lists is None else n_lists + hit
    scored = joined.select(
        F.col("__id").alias(id_col),
        n_lists.alias("n_lists"),
        F.round(score, round_digits).alias("score"),
    )
    return _top_ranked(scored, id_col, top_k, [id_col, "n_lists", "score", "rank"])


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into token-window chunks with overlap — the standard
    pre-training sharding step.  Pure JVM: tokenize once, explode one
    (start-index) sequence per doc, slice+join per chunk.  Map-only modulo
    the explode; chunk rows inherit their input partition, so at 100 TB
    this pipelines straight into tokenization/packing without a shuffle.

    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    assert 0 <= overlap < chunk_tokens
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - overlap, F.lit(1)),
        F.lit(stride),
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__t"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    piece = F.slice(F.col("__t"), F.col("start"), chunk_tokens)
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    ).filter(F.col("n_tokens") > 0)


# --------------------------------------------- repetition (Gopher-style)

def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics in the style of the Gopher data
    quality rules (Rae et al. 2021, "Scaling Language Models", §A1.1):

    * ``dup_word_frac`` — fraction of tokens that repeat an earlier token
      (1 − distinct/total);
    * ``top_bigram`` / ``top_bigram_frac`` — the most frequent word
      2-gram and the fraction of document characters its occurrences
      cover (count × gram length / chars);
    * ``top_trigram`` / ``top_trigram_frac`` — same for 3-grams.

    Repetitious text is a strong low-quality signal for LLM corpora
    (boilerplate, keyword stuffing, generation loops).

    All JVM expressions: tokenization + a non-distinct n-gram explode,
    two-level aggregate (map-side combined count, then per-doc argmax via
    ``max(struct(cnt, gram))`` — deterministic tie-break: highest count,
    then lexicographically greatest gram, mirrored in the oracle).
    Shuffle volume is O(tokens) small rows; no window over a global
    partition; scales linearly with corpus size."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("w"),
        F.length(F.col(text_col)).alias("n_chars"),
    )

    word_stats = base.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("w"))
            / F.greatest(F.size("w"), F.lit(1)).cast("double"),
            4,
        ).alias("dup_word_frac"),
    )

    def _top(n: int, name: str) -> DataFrame:
        grams = base.select(
            "doc_id",
            "n_chars",
            F.explode(
                F.when(F.size("w") < n, F.array().cast("array<string>")).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice("w", i, n)),
                    )
                )
            ).alias("gram"),
        )
        cnt = grams.groupBy("doc_id", "n_chars", "gram").agg(
            F.count("*").alias("cnt")
        )
        return cnt.groupBy("doc_id").agg(
            F.max(F.struct("cnt", "gram")).alias("t"),
            F.first("n_chars").alias("n_chars"),
        ).select(
            "doc_id",
            F.col("t.gram").alias(f"top_{name}"),
            F.round(
                F.col("t.cnt") * F.length("t.gram") / F.col("n_chars").cast("double"),
                4,
            ).alias(f"top_{name}_frac"),
        )

    out = (
        word_stats.join(_top(2, "bigram"), "doc_id", "left")
        .join(_top(3, "trigram"), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "dup_word_frac",
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("top_trigram", F.lit("")).alias("top_trigram"),
            F.coalesce("top_trigram_frac", F.lit(0.0)).alias("top_trigram_frac"),
        )
    )
    return out


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top PMI token pairs by document co-occurrence:
    (a, b, n_ab, pmi) with a < b, ``pmi = ln(n_ab·N / (n_a·n_b))`` over
    DOCUMENT frequencies (a pair counts once per doc).

    Plan: distinct-sorted tokens per doc (map-only), in-row pair
    enumeration (the group-and-enumerate idiom — no token self-join, so
    the token pipeline is planned once), two map-side-combined count
    aggregates, then two joins of the pair table against the ≤|vocab|-row
    token-frequency table.  All counts are exact integers; the single
    ln() of their ratio is engine-deterministic.

    Scale note: in-doc pair enumeration is O(m²) in the per-doc DISTINCT
    token count m.  For 100 TB corpora cap m first (slice the distinct
    array to its top-m tokens, or pre-filter tokens by document
    frequency) — the fixture's ~40-token docs need neither."""
    pc, tokc, ndocs = _doc_cooccurrence_tables(df, text_col, id_col)
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.col("N").cast("double"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        pc.filter(F.col("n_ab") >= min_pair_count)
        .join(tokc.select(F.col("w").alias("a"), F.col("n_w").alias("n_a")), "a")
        .join(tokc.select(F.col("w").alias("b"), F.col("n_w").alias("n_b")), "b")
        .crossJoin(F.broadcast(ndocs))
        .select("a", "b", "n_ab", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(top_n)
    )


def _doc_cooccurrence_tables(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared document-co-occurrence counting for the collocation
    statistics (:func:`pmi_pairs`, :func:`llr_pairs`): pair counts
    ``(a, b, n_ab)`` with a < b via in-row enumeration of the
    distinct-sorted token array (group-and-enumerate — no token
    self-join), token doc-frequencies ``(w, n_w)``, and the doc count."""
    toks = F.array_sort(F.array_distinct(tokens(text_col)))
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = d.select(
        F.explode(
            F.flatten(
                F.transform(
                    "t",
                    lambda x, i: F.transform(
                        F.slice(F.col("t"), i + 2, F.size("t")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pc = pairs.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    tokc = d.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count("*").alias("n_w")
    )
    ndocs = d.agg(F.count("*").alias("N"))
    return pc, tokc, ndocs


def llr_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top collocations by Dunning's log-likelihood ratio (Dunning,
    CL 1993): for token pairs co-occurring in documents,
    ``LLR = 2·Σ kᵢⱼ·ln(kᵢⱼ·N / (Rᵢ·Cⱼ))`` over the 2×2 contingency
    table (co-occur / a-only / b-only / neither) — the collocation
    test that, unlike PMI, does not over-reward rare pairs.  Output
    ``(a, b, n_ab, llr)``, a < b, ordered by (llr DESC, a, b).

    Determinism: all four cell counts are exact BIGINTs derived from
    the same doc-frequency tables PMI uses; the statistic is ONE fixed
    four-term double expression per pair (zero cells contribute
    exactly 0 via the same CASE guard on both engines) — no
    cross-pair float reduction exists, and the (llr, a, b) sort is a
    total order so the top_n cutoff is stable under ties.

    Scale: identical envelope to :func:`pmi_pairs` — in-doc pair
    enumeration is O(m²) in per-doc distinct tokens; cap m upstream
    for 100 TB corpora."""
    pc, tokc, ndocs = _doc_cooccurrence_tables(df, text_col, id_col)
    j = (
        pc.filter(F.col("n_ab") >= min_pair_count)
        .join(tokc.select(F.col("w").alias("a"), F.col("n_w").alias("n_a")), "a")
        .join(tokc.select(F.col("w").alias("b"), F.col("n_w").alias("n_b")), "b")
        .crossJoin(F.broadcast(ndocs))
    )

    def term(k: Column, r: Column, c: Column) -> Column:
        nd = F.col("N").cast("double")
        return F.when(
            k > 0,
            k.cast("double")
            * F.log(
                k.cast("double") * nd / (r.cast("double") * c.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    k11 = F.col("n_ab")
    k12 = F.col("n_a") - F.col("n_ab")
    k21 = F.col("n_b") - F.col("n_ab")
    k22 = F.col("N") - F.col("n_a") - F.col("n_b") + F.col("n_ab")
    r1, r2 = F.col("n_a"), F.col("N") - F.col("n_a")
    c1, c2 = F.col("n_b"), F.col("N") - F.col("n_b")
    llr = 2 * (
        term(k11, r1, c1)
        + term(k12, r1, c2)
        + term(k21, r2, c1)
        + term(k22, r2, c2)
    )
    return (
        j.select(
            "a",
            "b",
            "n_ab",
            (F.round(llr, 4) + F.lit(0.0)).alias("llr"),
        )
        .orderBy(F.desc("llr"), "a", "b")
        .limit(top_n)
    )


def token_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Shannon entropy of the unigram distribution (nats, 4dp):
    H = −Σ (c/N)·ln(c/N) — the corpus-diversity readout that separates
    template-generated sources from organic text.

    Output: (group, n_tokens, n_distinct, entropy).

    Plan: one (group, token) count — partial-aggregable, the only
    full-data shuffle — then a per-group fold over the ASCENDING-token
    (count) array so the float summation order is deterministic and the
    oracle replays it term-for-term (the dsir pattern); the per-group
    state is vocabulary-sized, not corpus-sized."""
    tok = df.select(
        F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tk")
    )
    counts = tok.groupBy("g", "tk").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.array_sort(F.collect_list(F.struct("tk", "c"))).alias("__tc"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_distinct",
            # + 0.0 normalizes the degenerate single-token group's -0.0
            (
                F.round(
                    -F.aggregate(
                        "__tc",
                        F.lit(0.0),
                        lambda acc, x: acc
                        + (x.getField("c").cast("double") / F.col("n_tokens"))
                        * F.log(
                            x.getField("c").cast("double") / F.col("n_tokens")
                        ),
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("entropy"),
        )
        .orderBy(group_col)
    )


def zipf_fit(
    counts: DataFrame,
    token_col: str = "tok",
    count_col: str = "freq",
    round_digits: int = 4,
) -> DataFrame:
    """Log-log Zipf fit of a (token, frequency) table: OLS of ln(freq)
    on ln(rank) — one row ``(n_types, n_tokens, zipf_slope, r2)``.  A
    natural corpus should fit slope ≈ −1 with high r²; a synthetic or
    template-heavy corpus flattens — the distributional sibling of the
    frequency-of-frequencies ``vocab_spectrum`` diagnostic (Gopher-style
    corpus quality reports plot exactly this line).

    Determinism contract: rank is a total order (count desc, token asc);
    ln values are doubles, so EVERY moment sum is an order-sensitive
    float reduction — all five run as left folds over the rank-sorted
    list (ln itself is parity-proven engine↔oracle by token_entropy).
    The closed form then follows :func:`analytics.ols_trend`'s fixed op
    order.

    Scale: the input is a vocabulary table, not the corpus — the global
    rank window and the collected fold list are vocabulary-sized (the
    token_entropy group-state contract).  Compute ``counts`` with a
    map-side-combined groupBy upstream; this finisher never sees the
    corpus."""
    ranked = counts.select(
        F.row_number()
        .over(Window.orderBy(F.col(count_col).desc(), token_col))
        .cast("long")
        .alias("r"),
        F.col(count_col).cast("long").alias("c"),
    ).select(
        "r",
        "c",
        F.log(F.col("r").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    arr = F.array_sort(F.collect_list(F.struct("r", "lx", "ly")))
    zero = F.lit(0.0).cast("double")

    def fold(field: str) -> Column:
        return F.aggregate(arr, zero, lambda acc, x: acc + x[field])

    def fold2(fa: str, fb: str) -> Column:
        return F.aggregate(arr, zero, lambda acc, x: acc + x[fa] * x[fb])

    stats = ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        fold("lx").alias("slx"),
        fold("ly").alias("sly"),
        fold2("lx", "lx").alias("slxx"),
        fold2("lx", "ly").alias("slxy"),
        fold2("ly", "ly").alias("slyy"),
    )
    n_d = F.col("n_types").cast("double")
    num = n_d * F.col("slxy") - F.col("slx") * F.col("sly")
    den = n_d * F.col("slxx") - F.col("slx") * F.col("slx")
    deny = n_d * F.col("slyy") - F.col("sly") * F.col("sly")
    return stats.select(
        "n_types",
        "n_tokens",
        F.round(F.when(den > 0, num / den), round_digits).alias("zipf_slope"),
        F.round(
            F.when((den > 0) & (deny > 0), num * num / (den * deny)),
            round_digits,
        ).alias("r2"),
    )


def heaps_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: OLS of ln(distinct types
    seen) on ln(tokens seen) over the doc_id-ordered corpus prefix —
    one row ``(n_docs, total_tokens, total_types, heaps_beta,
    heaps_logk, r2)``.  Natural text grows V(n) ≈ K·n^β with β ≈
    0.4–0.8; template/synthetic corpora saturate (β → 0) — the growth
    companion to :func:`zipf_fit`'s static spectrum.

    Determinism contract: per-doc token counts and first-occurrence
    type counts are exact integers; cumulative sums are integer window
    sums over the doc_id total order.  The ln-moment sums are left
    folds over the doc_id-sorted point list (one point per doc — the
    fold state is |docs| rows, and at corpus scale you'd pre-bucket
    docs into fixed-size prefixes first).  Closed form follows the
    ols_trend op order; ln parity is the token_entropy precedent.

    Plan: one size() scan for token counts (no explode) + one
    explode→min aggregate for first occurrences, joined on the doc id
    — two corpus scans, no self-join of a derived pipeline.
    """
    toks = tokens(F.lower(F.col(text_col)))
    per_doc = docs.select(
        F.col(id_col).alias("d"), F.size(toks).alias("nt")
    ).filter(F.col("nt") > 0)
    firsts = (
        docs.select(
            F.col(id_col).alias("d"),
            F.explode(F.array_distinct(toks)).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.min("d").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    w = Window.orderBy("d")
    pts = (
        per_doc.join(firsts, "d", "left")
        .select(
            "d",
            "nt",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("nv"),
        )
        .select(
            "d",
            F.sum("nt").over(w).cast("long").alias("ct"),
            F.sum("nv").over(w).cast("long").alias("cv"),
        )
        .select(
            "d",
            "ct",
            "cv",
            F.log(F.col("ct").cast("double")).alias("lx"),
            F.log(F.col("cv").cast("double")).alias("ly"),
        )
    )
    arr = F.array_sort(F.collect_list(F.struct("d", "lx", "ly")))
    zero = F.lit(0.0).cast("double")

    def fold(field):
        return F.aggregate(arr, zero, lambda acc, x: acc + x[field])

    def fold2(fa, fb):
        return F.aggregate(arr, zero, lambda acc, x: acc + x[fa] * x[fb])

    stats = pts.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("ct").cast("long").alias("total_tokens"),
        F.max("cv").cast("long").alias("total_types"),
        fold("lx").alias("slx"),
        fold("ly").alias("sly"),
        fold2("lx", "lx").alias("slxx"),
        fold2("lx", "ly").alias("slxy"),
        fold2("ly", "ly").alias("slyy"),
    )
    n_d = F.col("n_docs").cast("double")
    num = n_d * F.col("slxy") - F.col("slx") * F.col("sly")
    den = n_d * F.col("slxx") - F.col("slx") * F.col("slx")
    deny = n_d * F.col("slyy") - F.col("sly") * F.col("sly")
    beta = F.when(den > 0, num / den)
    logk = F.when(den > 0, (F.col("sly") - (num / den) * F.col("slx")) / n_d)
    return stats.select(
        "n_docs",
        "total_tokens",
        "total_types",
        F.round(beta, round_digits).alias("heaps_beta"),
        F.round(logk, round_digits).alias("heaps_logk"),
        F.round(
            F.when((den > 0) & (deny > 0), num * num / (den * deny)),
            round_digits,
        ).alias("r2"),
    )


def token_cells(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Shared (g, tk, c) token-count table for the text-drift family
    (KL, pairwise JSD, Kendall profile matrix, RBO matrix, OOV rates):
    null-group-filtered exact BIGINT counts over whitespace tokens.
    Counts are MONOTONE and merge by ADDITION, so on a streaming
    DataFrame this aggregate is the live sketch for those statistics,
    its state one count per occupied (group, token) cell, bounded by
    groups × vocabulary (shingle/df-cut open vocabularies upstream) —
    the value_cells discipline applied to the token family.  The
    finishers localCheckpoint it where they fan it into multiple
    branches.

    The input is ``spread`` first (no-op on multi-partition inputs): a
    single-file corpus would run the tokenize+explode+partial-agg
    stage on one core — fixing it HERE serves all nine token-sketch
    consumers at once."""
    from streamkit_spark.functions.util import spread

    tok = spread(df.filter(F.col(group_col).isNotNull())).select(
        F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("tk")
    )
    return tok.groupBy("g", "tk").agg(
        F.count("*").cast("long").alias("c")
    )


def log_odds_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    alpha0: float = 100.0,
    top_k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Monroe-Colaresi-Quinn "Fightin' Words" (2008): per group, the
    top-k tokens most OVERREPRESENTED vs the complement by the
    log-odds-ratio z-score with an informative Dirichlet prior — the
    principled replacement for raw tf-idf/PMI "what words define this
    source" lists (the prior shrinks rare-word noise; the z
    standardizes by sampling variance).  See
    :func:`log_odds_from_cells` for the algebra."""
    return log_odds_from_cells(
        token_cells(df, group_col, text_col),
        group_col=group_col,
        alpha0=alpha0,
        top_k=top_k,
        round_digits=round_digits,
    )


def log_odds_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    alpha0: float = 100.0,
    top_k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`log_odds_by_group` over a prebuilt
    (g, tk, c) token-count table (the token streaming sketch's 8th
    report).

    For group g and token w with the informative prior α_w =
    α₀·ct_w/N (Monroe et al. §3.5.2, the corpus distribution scaled
    to α₀ pseudo-counts):

        δ = ln((y + α_w)/(n_g + α₀ − y − α_w))
          − ln((y' + α_w)/(n' + α₀ − y' − α_w)),
        σ² ≈ 1/(y + α_w) + 1/(y' + α_w),   z = δ/σ

    with y' / n' the complement's counts.  Only OBSERVED (g, token)
    cells are scored (absent tokens cannot be overrepresented).  All
    counts exact BIGINT; the prior/odds/variance floats evaluate in
    ONE pinned expression; z is rounded BEFORE ranking (ties break by
    token).  Degenerate corpora where one token carries ALL mass make
    the odds denominator 0 (±inf z) — real vocabularies never do.

    Scale: everything after the cell table is vocabulary-bounded; the
    cell table is checkpointed (three aggregate branches)."""
    cells = cells.localCheckpoint(eager=False)
    glob = cells.groupBy("tk").agg(F.sum("c").cast("long").alias("ct"))
    gt = cells.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    tot = gt.agg(F.sum("ng").cast("long").alias("nn"))
    j = (
        cells.join(F.broadcast(glob), "tk")
        .join(F.broadcast(gt), "g")
        .crossJoin(F.broadcast(tot))
    )
    a0 = F.lit(float(alpha0))
    aw = a0 * (F.col("ct").cast("double") / F.col("nn").cast("double"))
    y = F.col("c").cast("double")
    yc = (F.col("ct") - F.col("c")).cast("double")
    ng = F.col("ng").cast("double")
    nc = (F.col("nn") - F.col("ng")).cast("double")
    delta = F.log((y + aw) / (ng + a0 - y - aw)) - F.log(
        (yc + aw) / (nc + a0 - yc - aw)
    )
    var = F.lit(1.0) / (y + aw) + F.lit(1.0) / (yc + aw)
    z = delta / F.sqrt(var)
    scored = j.select(
        F.col("g").alias(group_col),
        F.col("tk").alias("token"),
        (F.round(z, round_digits) + F.lit(0.0)).alias("z"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("z").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .orderBy(group_col, "rank")
    )


def token_diversity_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Hill-number token diversity per group (Hill 1973; the ecology
    diversity spectrum applied to vocabularies): richness (⁰D),
    exp(Shannon) (¹D — "effective vocabulary size"), and
    inverse-Simpson (²D — head-weighted effective size).  See
    :func:`diversity_from_cells`."""
    return diversity_from_cells(
        token_cells(df, group_col, text_col),
        group_col=group_col,
        round_digits=round_digits,
    )


def diversity_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`token_diversity_by_group` over a prebuilt
    (g, tk, c) table (the token streaming sketch's 9th report):
    ``(group, n_tokens, richness, hill1, hill2, evenness)`` with
    hill1 = exp(−Σ p·ln p) from a TOKEN-SORTED fold (ln parity, the
    token_entropy discipline), hill2 = n²/Σc² with Σc² an exact
    BIGINT sum, and evenness = H/ln(richness) (NULL for single-token
    groups).  ¹D collapsing toward 1 while richness stays flat is the
    template-corpus signature (mass concentrating on few types)."""
    dec = "decimal(38,0)"
    g = cells.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("richness"),
        # n² and Σc² in DECIMAL(38,0): the BIGINT squares overflow (and
        # ANSI-crash) past ~3e9 tokens/group — the gini wide-arithmetic
        # discipline; capacity here reaches n ~ 1e19, no guard needed
        F.sum(F.col("c").cast(dec) * F.col("c")).cast(dec).alias("c2"),
        F.array_sort(
            F.collect_list(F.struct(F.col("tk").alias("tk"), F.col("c")))
        ).alias("__arr"),
    )
    h = F.aggregate(
        F.col("__arr"),
        F.lit(0.0),
        lambda acc, x: acc
        - (x["c"].cast("double") / F.col("n_tokens").cast("double"))
        * F.log(x["c"].cast("double") / F.col("n_tokens").cast("double")),
    )
    # materialize the slim per-group row WITH the Shannon fold computed
    # once: hill1 and evenness both reference h, and projection collapse
    # would otherwise inline the vocabulary-length fold per reference
    # (the minhash 64x lesson, 2x edition)
    slim = g.select(
        "g", "n_tokens", "richness", "c2", h.alias("__h")
    ).localCheckpoint(eager=False)
    hc = F.col("__h")
    return (
        slim.select(
            F.col("g").alias(group_col),
            "n_tokens",
            "richness",
            F.round(F.exp(hc), round_digits).alias("hill1"),
            F.round(
                (F.col("n_tokens").cast(dec) * F.col("n_tokens"))
                .cast("double")
                / F.col("c2").cast("double"),
                round_digits,
            ).alias("hill2"),
            F.round(
                F.when(
                    F.col("richness") > 1,
                    hc / F.log(F.col("richness").cast("double")),
                ),
                round_digits,
            ).alias("evenness"),
        )
        .orderBy(F.col(group_col).asc_nulls_last())
    )


def kl_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Per-group KL divergence of the group's unigram distribution from
    the WHOLE-CORPUS distribution, KL(P_g ‖ P_corpus) = Σ p·ln(p/q) in
    nats — the domain-shift readout that pairs with
    :func:`token_entropy`'s diversity: how far has this source drifted
    from the corpus mixture it feeds?  (DSIR/DoReMi-style data-mixing
    diagnostics plot exactly this quantity per domain.)  Output
    ``(group, n_tokens, n_distinct, kl)``.

    No smoothing is needed: P_g's support is a subset of the corpus
    support by construction (every group token is a corpus token), so
    q > 0 wherever p > 0 and the sum is finite.

    Determinism contract: p = c_g/n_g and q = c/N stay exact integer
    ratios until the double division inside each term, and the
    cross-token float sum — the only order-sensitive reduction — runs
    as a left fold over the ASCENDING-token term array (the
    token_entropy precedent), replayed term-for-term by the oracle.

    Scale: one (group, token) count (the full-data shuffle), a
    vocabulary-sized global count joined back by token, and a per-group
    fold whose state is vocabulary-sized.  No collect, no self-join.
    """
    return kl_from_cells(
        token_cells(df, group_col, text_col), group_col, round_digits
    )


def kl_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`kl_by_group` over a prebuilt (g, tk, c)
    token-count table (the token streaming sketch)."""
    # fans into the global count, the total, and the per-group fold
    cells = cells.localCheckpoint(eager=False)
    glob = cells.groupBy("tk").agg(F.sum("c").cast("long").alias("ct"))
    tot = cells.agg(F.sum("c").cast("long").alias("nn"))
    joined = cells.join(glob, "tk").crossJoin(F.broadcast(tot))
    return (
        joined.groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.array_sort(
                F.collect_list(F.struct("tk", "c", "ct", "nn"))
            ).alias("__tc"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_distinct",
            (
                F.round(
                    F.aggregate(
                        "__tc",
                        F.lit(0.0).cast("double"),
                        lambda acc, x: acc
                        + (
                            x.getField("c").cast("double")
                            / F.col("n_tokens").cast("double")
                        )
                        * F.log(
                            (
                                x.getField("c").cast("double")
                                / F.col("n_tokens").cast("double")
                            )
                            / (
                                x.getField("ct").cast("double")
                                / x.getField("nn").cast("double")
                            )
                        ),
                    ),
                    round_digits,
                )
                + F.lit(0.0)
            ).alias("kl"),
        )
        .orderBy(group_col)
    )


def jsd_by_group_pairs(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two groups'
    unigram distributions, ``(group_a, group_b, n_shared, jsd)`` in nats
    — the SYMMETRIC, bounded (≤ ln 2) sibling of :func:`kl_by_group`:
    the train/test and domain-vs-domain difference matrix (source pairs
    that read alike score near 0; disjoint vocabularies score ln 2).

    Only SHARED tokens ever reach the pair stage: for a token one side
    lacks, the mixture m = p/2 makes its term collapse to p·ln 2, so

        JSD = ½·Σ_shared [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
              + ½·ln 2·[(1 − P_shared) + (1 − Q_shared)]

    with P_shared the side-a probability mass on the shared support.
    Pairs sharing NO tokens are omitted from the output (their JSD is
    exactly ln 2) — the same sparsity contract as the dedup pair ops.

    Determinism contract: p = c_a/n_a and q = c_b/n_b are doubles from
    exact counts; every per-pair reduction (the term sum and both
    shared-mass sums) runs as a left fold over the ASCENDING-token
    array (the token_entropy/kl_by_group precedent), replayed
    term-for-term by the oracle; ln parity per the same precedent.

    Scale: one (group, token) count (the full-data shuffle), then the
    pair stage enumerates co-occurring group pairs IN-ROW per token
    (``pairs_from_sorted_groups`` — no derived-table self-join); state
    is vocabulary × co-occurring-pairs, bounded by group cardinality²,
    never by rows.  For open-ended group columns, pre-bucket upstream.
    """
    return jsd_from_cells(
        token_cells(df, group_col, text_col), group_col, round_digits
    )


def jsd_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`jsd_by_group_pairs` over a prebuilt
    (g, tk, c) token-count table (the token streaming sketch)."""
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    # fans into the totals and the per-token pair stage
    cells = cells.localCheckpoint(eager=False)
    totals = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    per_tk = cells.groupBy("tk").agg(
        F.array_sort(F.collect_list(F.struct("g", "c"))).alias("ds")
    )
    pr = pairs_from_sorted_groups(
        per_tk, "ds", carry=("tk",), distinct=False
    ).select(
        "tk",
        F.col("id_a.g").alias("a"),
        F.col("id_a.c").alias("ca"),
        F.col("id_b.g").alias("b"),
        F.col("id_b.c").alias("cb"),
    )
    j = pr.join(
        F.broadcast(
            totals.select(F.col("g").alias("a"), F.col("n").alias("na"))
        ),
        "a",
    ).join(
        F.broadcast(
            totals.select(F.col("g").alias("b"), F.col("n").alias("nb"))
        ),
        "b",
    )
    p = F.col("ca").cast("double") / F.col("na").cast("double")
    q = F.col("cb").cast("double") / F.col("nb").cast("double")
    term = p * F.log(F.lit(2.0) * p / (p + q)) + q * F.log(
        F.lit(2.0) * q / (p + q)
    )
    agg = (
        j.select(
            "a", "b", "tk", term.alias("t"), p.alias("p"), q.alias("q")
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.array_sort(
                F.collect_list(F.struct("tk", "t", "p", "q"))
            ).alias("__arr"),
        )
    )
    fold = lambda field: F.aggregate(  # noqa: E731 — three same-shape folds
        "__arr",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.getField(field),
    )
    jsd = F.lit(0.5) * fold("t") + F.lit(0.5) * F.log(F.lit(2.0)) * (
        (F.lit(1.0) - fold("p")) + (F.lit(1.0) - fold("q"))
    )
    return (
        agg.select(
            F.col("a").alias("group_a"),
            F.col("b").alias("group_b"),
            "n_shared",
            (F.round(jsd, round_digits) + F.lit(0.0)).alias("jsd"),
        )
        .orderBy("group_a", "group_b")
    )


def kendall_profile_pairs(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 0,
    round_digits: int = 4,
) -> DataFrame:
    """Pairwise Kendall tau-b between every two groups' unigram
    FREQUENCY PROFILES over the union vocabulary (tokens a side lacks
    count 0), ``(group_a, group_b, n_tokens, concordant, discordant,
    tau)`` — the rank-correlation drift matrix: where
    :func:`jsd_by_group_pairs` measures how much probability MASS two
    sources disagree on, tau measures whether they RANK the vocabulary
    the same way (robust to one source simply being larger).  tau near
    1 = same usage ordering; near 0 = unrelated; negative = inverted.

    Determinism contract: counts on the zero-filled groups × vocabulary
    spine are exact integers; tau-b comes from the quantized-cell
    machinery (``analytics.kendall_tau_binned`` — exact C/D/tie counts
    in DECIMAL(38,0), one final double ratio), with integer counts AS
    the quantization, so the statistic is exact, not binned.

    Scale: one (group, token) count (the full-data shuffle), a
    |groups| × |vocabulary| spine, and in-row pair enumeration per
    token (``pairs_from_sorted_groups`` — no derived-table self-join);
    the tau cell stage is O(distinct (x, y) cells² per pair), bounded
    by vocabulary size.  For open vocabularies cut the spine with
    ``min_count`` (corpus-total df-cut) or shingle upstream; group
    cardinality bounds the pair count as in the jsd matrix.
    """
    return kendall_profile_from_cells(
        token_cells(df, group_col, text_col),
        group_col,
        min_count=min_count,
        round_digits=round_digits,
    )


def kendall_profile_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    min_count: int = 0,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`kendall_profile_pairs` over a prebuilt
    (g, tk, c) token-count table (the token streaming sketch)."""
    from streamkit_spark.functions.analytics import kendall_tau_binned
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    # fans into groups/vocab/the join
    cells = cells.localCheckpoint(eager=False)
    vocab = cells.groupBy("tk").agg(F.sum("c").cast("long").alias("tot"))
    if min_count > 0:
        vocab = vocab.filter(F.col("tot") >= min_count)
    grid = (
        cells.select("g")
        .distinct()
        .crossJoin(F.broadcast(vocab.select("tk")))
    )
    filled = grid.join(cells, ["g", "tk"], "left").select(
        "g", "tk", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    per_tk = filled.groupBy("tk").agg(
        F.array_sort(F.collect_list(F.struct("g", "c"))).alias("ds")
    )
    obs = pairs_from_sorted_groups(
        per_tk, "ds", carry=("tk",), distinct=False
    ).select(
        F.struct(
            F.col("id_a.g").alias("a"), F.col("id_b.g").alias("b")
        ).alias("pair"),
        F.col("id_a.c").alias("x"),
        F.col("id_b.c").alias("y"),
    )
    t = kendall_tau_binned(obs, "pair", "x", "y", round_digits)
    return t.select(
        F.col("pair.a").alias("group_a"),
        F.col("pair.b").alias("group_b"),
        F.col("n").alias("n_tokens"),
        "concordant",
        "discordant",
        "tau",
    ).orderBy("group_a", "group_b")


def burstiness_by_token(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    round_digits: int = 4,
) -> DataFrame:
    """Per-token burstiness profile over the document collection,
    ``(token, df, total, vmr, burst)`` — which tokens CLUMP instead of
    spreading evenly (Church & Gale 1995: content words are bursty,
    function words are Poisson-ish)?  The stopword-vs-topic separator a
    quality pipeline wants before df-cuts: ``vmr`` near 1 = Poisson
    (function word), ≫ 1 = topical; ``burst`` = mean occurrences per
    CONTAINING doc (Church-Gale's Ec/df readout).

    * ``vmr``  = variance-to-mean ratio over ALL docs including zeros:
      (D·Σc² − (Σc)²) / (D·Σc) with D the collection size — the zero
      docs need no rows, the moments absorb them in closed form.
    * ``burst`` = Σc / df.

    Determinism contract: D, df, Σc, Σc² are exact BIGINTs (Σc² is
    bounded by (max per-doc count)²·df — raise ``min_df`` pre-scaling
    if per-doc counts approach 3·10⁹); both ratios are ONE fixed double
    expression from those integers.  NULL vmr when Σc = 0 cannot happen
    (a token row exists only if it occurred); no guards needed beyond
    df ≥ min_df.

    Scale: one (doc, token) count (the full-data shuffle), then a
    vocabulary-sized aggregate.  ``min_df`` cuts the hapax tail that
    dominates vocabulary size (Zipf) but carries no burstiness signal
    (a df=1 token's vmr ≈ its single count — one doc is not evidence of
    clumping).  ``base`` feeds BOTH the collection-size aggregate and
    the cells pipeline: on a plain table scan that second read is free,
    but a caller passing an expensive DERIVED frame (a dedup or
    boilerplate-removal output) should localCheckpoint it first — the
    derived-table re-planning hazard.
    """
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    n_docs = base.select(
        F.countDistinct(id_col).cast("long").alias("d")
    )
    cells = (
        base.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(text_col)).alias("tk"),
        )
        .groupBy("doc", "tk")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = (
        cells.groupBy("tk")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("c").cast("long").alias("total"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
        )
        .filter(F.col("df") >= F.lit(int(min_df)))
        .crossJoin(F.broadcast(n_docs))
    )
    d_d = F.col("d").cast("double")
    tot_d = F.col("total").cast("double")
    vmr = (d_d * F.col("sq").cast("double") - tot_d * tot_d) / (d_d * tot_d)
    burst = tot_d / F.col("df").cast("double")
    return (
        agg.select(
            F.col("tk").alias("token"),
            "df",
            "total",
            F.round(vmr, round_digits).alias("vmr"),
            F.round(burst, round_digits).alias("burst"),
        )
        .orderBy("token")
    )


def rbo_pairs(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 20,
    p: float = 0.9,
    round_digits: int = 4,
) -> DataFrame:
    """Pairwise rank-biased overlap (Webber et al. TOIS 2010, the
    truncated prefix sum RBO@k) between every two groups' TOP-``k``
    token rankings: rbo = Σ_{d=1..k} (1−p)·p^{d−1}·|A_d ∩ B_d|/d —
    the top-weighted drift matrix.  Where :func:`kendall_profile_pairs`
    compares the FULL vocabulary ordering, RBO asks "do the sources
    agree about what matters MOST?" — depth-d prefixes are
    geometrically discounted, so head churn dominates and tail noise
    is ignored.  Output ``(group_a, group_b, k, rbo)``; rbo = 1−p^k for
    identical rankings, → 0 for disjoint heads.

    Determinism contract: rankings are exact counts with a total
    tie-break (count DESC, token ASC); the geometric weights are
    PYTHON-computed floats emitted as identical literals on both
    engines (the random_projection CAST('repr') discipline — never
    re-derive a float trajectory with pow() on two engines); each
    depth term is one fixed double expression and the depth sum folds
    in ascending-d order.  Rankings shorter than k contribute their
    actual prefix.

    Scale: one (group, token) count, per-group top-k via a partitioned
    window over the distinct-token cells (vocabulary-bounded), then ONE
    row of (group, top-k array) structs enumerating pairs in-row
    (``pairs_from_sorted_groups``); per-pair work is O(k²) intersects —
    groups² · k² total, corpus-size-independent after the first count.
    """
    return rbo_from_cells(
        token_cells(df, group_col, text_col),
        group_col,
        k=k,
        p=p,
        round_digits=round_digits,
    )


def rbo_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    k: int = 20,
    p: float = 0.9,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`rbo_pairs` over a prebuilt (g, tk, c)
    token-count table (the token streaming sketch); single consumer
    chain, so no checkpoint needed."""
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    # eager validation (the quantiles_from_histogram discipline):
    # k = 0 would build sequence(1, 0) — which runs DESCENDING — and
    # die deep in Catalyst on element_at(weights, 0)
    if k < 1:
        raise ValueError(f"rbo: k must be >= 1, got {k}")
    if not (0.0 < p < 1.0):
        raise ValueError(f"rbo: p must be in (0, 1), got {p}")
    w = Window.partitionBy("g").orderBy(
        F.col("c").desc(), F.col("tk").asc()
    )
    ranked = cells.select(
        "g", "tk", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= k)
    arrs = (
        ranked.groupBy("g")
        .agg(F.array_sort(F.collect_list(F.struct("rn", "tk"))).alias("sr"))
        .select(
            "g", F.transform("sr", lambda s: s["tk"]).alias("arr")
        )
    )
    one = arrs.agg(F.array_sort(F.collect_list(F.struct("g", "arr"))).alias("gs"))
    pr = pairs_from_sorted_groups(one, ids_col="gs", distinct=False)
    weights = [(1.0 - p) * p ** (d - 1) for d in range(1, k + 1)]
    wlit = F.array(*[F.lit(x) for x in weights])
    a_arr, b_arr = F.col("id_a")["arr"], F.col("id_b")["arr"]
    rbo = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda d: F.element_at(wlit, d)
            * (
                F.size(
                    F.array_intersect(
                        F.slice(a_arr, F.lit(1), d),
                        F.slice(b_arr, F.lit(1), d),
                    )
                ).cast("double")
                / d.cast("double")
            ),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return pr.select(
        F.col("id_a")["g"].alias("group_a"),
        F.col("id_b")["g"].alias("group_b"),
        F.lit(k).cast("long").alias("k"),
        (F.round(rbo, round_digits) + F.lit(0.0)).alias("rbo"),
    ).orderBy("group_a", "group_b")


def oov_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    vocab_k: int = 20,
    round_digits: int = 4,
) -> DataFrame:
    """Per-group out-of-vocabulary rate against the CORPUS top-``k``
    token vocabulary: what fraction of each group's token occurrences
    fall outside the head vocabulary — the tokenizer/coverage audit
    ("will a vocab trained on the whole corpus serve this source?").
    Output ``(group, n_tokens, n_oov, oov_rate)``.

    Determinism contract: the vocabulary is the exact global count
    ranking with a total tie-break (count DESC, token ASC); counts are
    exact BIGINTs and the rate is one double division.

    Scale: one (group, token) count; the global ranking is a
    single-partition sort of the DISTINCT-token table (vocabulary-
    bounded, the ranksum cumulative-window contract); membership joins
    back as a broadcast ≤``vocab_k``-row table.
    """
    return oov_from_cells(
        token_cells(df, group_col, text_col),
        group_col,
        vocab_k=vocab_k,
        round_digits=round_digits,
    )


def _top_k_vocab(cells: DataFrame, k: int) -> DataFrame:
    """Global top-k token table from a (g, tk, c) cell table — exact
    counts with the (count DESC, token ASC) total tie-break.  ONE
    definition shared by :func:`oov_from_cells` and
    :func:`burrows_from_cells` so their vocabularies can never
    desynchronize.  The row_number window is a single-partition sort of
    the DISTINCT-token table (vocabulary-bounded, the ranksum
    cumulative-window contract)."""
    gtot = cells.groupBy("tk").agg(F.sum("c").cast("long").alias("ct"))
    wv = Window.orderBy(F.col("ct").desc(), F.col("tk").asc())
    return (
        gtot.select("tk", F.row_number().over(wv).alias("rn"))
        .filter(F.col("rn") <= k)
        .select("tk")
    )


def oov_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    vocab_k: int = 20,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`oov_by_group` over a prebuilt (g, tk, c)
    token-count table (the token streaming sketch)."""
    # fans into the global ranking AND the per-group aggregate
    cells = cells.localCheckpoint(eager=False)
    vocab = _top_k_vocab(cells, vocab_k).select(
        "tk", F.lit(True).alias("__in_vocab")
    )
    j = cells.join(F.broadcast(vocab), "tk", "left")
    out = j.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    rate = F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
    return out.select(
        F.col("g").alias(group_col),
        "n_tokens",
        "n_oov",
        (F.round(rate, round_digits) + F.lit(0.0)).alias("oov_rate"),
    ).orderBy(group_col)


def coverage_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    percents: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Vocabulary coverage curve per group: the number of top-ranked
    token TYPES needed to cover each given percent of the group's token
    OCCURRENCES — the "how head-heavy is this source?" readout that
    sizes tokenizer vocabularies and explains OOV rates (a source whose
    99% point needs 10x more types than the corpus is the one a shared
    vocab will shortchange).  Output ``(group, pct, tokens_needed,
    vocab_size, total_tokens)``, one row per (group, percent).

    Determinism contract: ranks use the exact global-count ordering
    with a total tie-break (count DESC, token ASC — the _top_k_vocab
    convention, per group); the threshold compare is exact integer
    arithmetic, cum·100 ≥ pct·n — no float ceil anywhere.

    Scale: one (group, token) count, then a per-group cumulative window
    over the DISTINCT-token table (vocabulary-bounded, the ranksum
    cumulative-window contract); the percent explode multiplies only
    the cell table.
    """
    return coverage_from_cells(
        token_cells(df, group_col, text_col), group_col, percents
    )


def coverage_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    percents: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Finisher half of :func:`coverage_by_group` over a prebuilt
    (g, tk, c) token-count table (the token streaming sketch's 7th
    report)."""
    if not percents:
        raise ValueError("percents must be non-empty")
    # integers only: a float like 99.5 would pass a range check and then
    # silently truncate to 99 in the literal (the int(0.99*100)==98
    # sharp-edge class) — reject instead of mislabeling
    if any(
        not isinstance(p, int) or isinstance(p, bool) or p < 1 or p > 100
        for p in percents
    ):
        raise ValueError(
            f"percents must be integers in [1, 100], got {percents!r}"
        )
    # fans into the window table and the per-group totals
    cells = cells.localCheckpoint(eager=False)
    w = Window.partitionBy("g").orderBy(F.col("c").desc(), F.col("tk").asc())
    ranked = cells.select(
        "g",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    tot = cells.groupBy("g").agg(
        F.sum("c").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    )
    px = F.explode(F.array(*[F.lit(int(p)) for p in percents])).alias("pct")
    return (
        ranked.join(F.broadcast(tot), "g")
        .select("g", "rk", "cum", "total_tokens", "vocab_size", px)
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("total_tokens"))
        .groupBy("g", "pct")
        .agg(
            F.min("rk").cast("long").alias("tokens_needed"),
            F.first("vocab_size").alias("vocab_size"),
            F.first("total_tokens").alias("total_tokens"),
        )
        .select(
            F.col("g").alias(group_col),
            F.col("pct").cast("long").alias("pct"),
            "tokens_needed",
            "vocab_size",
            "total_tokens",
        )
        .orderBy(group_col, "pct")
    )


def burrows_delta_pairs(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    vocab_k: int = 50,
    round_digits: int = 4,
) -> DataFrame:
    """Pairwise Burrows' Delta (Burrows LLC 2002) between groups:
    z-score each group's relative frequency of the corpus top-``k``
    tokens against the across-group mean/sd, then Delta(a, b) =
    (1/|V|)·Σ_tk |z_a − z_b| — the classic stylometry distance (small
    Delta = same "authorial hand"), here the style-drift matrix next
    to the mass (JSD) / ordering (Kendall) / head (RBO) ones: Delta
    weights every head token EQUALLY after variance normalization, so
    one dominant token cannot mask drift in the quieter ones.  Output
    ``(group_a, group_b, n_vocab, delta)``.

    Convention: the z-score uses the SAMPLE standard deviation across
    groups (ddof = 1 — the convention of the stylo package and the
    Evert et al. 2017 Delta survey), so values are comparable with
    published Delta thresholds; a population-sd Delta would be
    uniformly sqrt(g/(g−1)) smaller.  Pinned by the two-group fixed
    point Delta = √2 (z = ±1/√2 per differing token).

    Determinism contract: relative frequencies are single double
    divisions of exact counts on the zero-filled groups × vocabulary
    spine; the across-group mean/sd per token fold in GROUP order; sd
    is sqrt-guarded at ≤ 0 (a token with identical frequency everywhere
    contributes 0, the lim of |Δz| as σ→0 under equal values); the
    per-pair sum folds in TOKEN order.  Vocabulary = exact global
    counts with a (count DESC, token ASC) total tie-break.

    Scale: one (group, token) count, a groups × k spine, in-row pair
    enumeration per token (``pairs_from_sorted_groups``) — groups² · k
    bounded, corpus-size-independent after the first count.  Also the
    token streaming sketch's 6th report (:func:`burrows_from_cells`
    over a streaming :func:`token_cells`).
    """
    return burrows_from_cells(
        token_cells(df, group_col, text_col),
        group_col,
        vocab_k=vocab_k,
        round_digits=round_digits,
    )


def burrows_from_cells(
    cells: DataFrame,
    group_col: str = "source",
    vocab_k: int = 50,
    round_digits: int = 4,
) -> DataFrame:
    """Finisher half of :func:`burrows_delta_pairs` over a prebuilt
    (g, tk, c) token-count table (the token streaming sketch)."""
    from streamkit_spark.functions.util import pairs_from_sorted_groups

    # fans into vocab / totals / the spine join
    cells = cells.localCheckpoint(eager=False)
    vocab = _top_k_vocab(cells, vocab_k)
    totals = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    grid = totals.select("g", "n").crossJoin(F.broadcast(vocab))
    filled = grid.join(cells, ["g", "tk"], "left").select(
        "g",
        "tk",
        (
            F.coalesce(F.col("c"), F.lit(0)).cast("double")
            / F.col("n").cast("double")
        ).alias("f"),
    )
    # across-group mean/sd per token: folds in group order
    per_tk = filled.groupBy("tk").agg(
        F.count("*").cast("long").alias("ng"),
        F.array_sort(F.collect_list(F.struct("g", "f"))).alias("gs"),
    )
    fold = lambda expr: F.aggregate(  # noqa: E731 — two same-shape folds
        "gs", F.lit(0.0).cast("double"), expr
    )
    ngd = F.col("ng").cast("double")
    s1 = fold(lambda a, x: a + x["f"])
    s2 = fold(lambda a, x: a + x["f"] * x["f"])
    mu = s1 / ngd
    # SAMPLE sd (ddof = 1, the stylo convention — see the wrapper's
    # docstring); population sd would shrink every Delta by
    # sqrt(g/(g-1)) uniformly, self-consistently wrong vs published
    # thresholds (the AD N-scaling bug class)
    var = (s2 / ngd - mu * mu) * (ngd / (ngd - F.lit(1.0)))
    sd = F.when(
        (F.col("ng") > 1) & (var > 0), F.sqrt(var)
    ).otherwise(F.lit(0.0))
    st = per_tk.select("tk", "gs", mu.alias("mu"), sd.alias("sd"))
    # z rows back on the spine (σ = 0 tokens contribute 0 to Delta)
    z = st.select(
        "tk",
        "mu",
        "sd",
        F.explode("gs").alias("e"),
    ).select(
        "tk",
        F.col("e.g").alias("g"),
        F.when(
            F.col("sd") > 0,
            (F.col("e.f") - F.col("mu")) / F.col("sd"),
        ).otherwise(F.lit(0.0)).alias("z"),
    )
    per_token_pairs = z.groupBy("tk").agg(
        F.array_sort(F.collect_list(F.struct("g", "z"))).alias("ds")
    )
    pr = pairs_from_sorted_groups(
        per_token_pairs, "ds", carry=("tk",), distinct=False
    ).select(
        "tk",
        F.col("id_a.g").alias("a"),
        F.col("id_b.g").alias("b"),
        F.abs(F.col("id_a.z") - F.col("id_b.z")).alias("t"),
    )
    nvrow = vocab.agg(F.count("*").cast("long").alias("n_vocab"))
    agg = pr.groupBy("a", "b").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("tk", "t"))),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["t"],
        ).alias("s")
    )
    return (
        agg.crossJoin(F.broadcast(nvrow))
        .select(
            F.col("a").alias("group_a"),
            F.col("b").alias("group_b"),
            "n_vocab",
            (
                F.round(
                    F.col("s") / F.col("n_vocab").cast("double"),
                    round_digits,
                )
                + F.lit(0.0)
            ).alias("delta"),
        )
        .orderBy("group_a", "group_b")
    )
