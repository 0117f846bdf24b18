"""Distributed sketch structures: Bloom-filter semi-join pre-filtering and
a deterministic HyperLogLog distinct-count estimator.

The reference engine carries no sketch machinery (its scans are
key-range-pruned pebble iterators, internal/enumerate/enumerate.go); this
module belongs to the large-scale-pipeline extension surface.  A Bloom
pre-filter is Spark's own runtime-filter / dynamic-partition-pruning
pattern made explicit and portable: build a tiny bit-set over the join
keys of the SMALL side, broadcast it, and drop non-matching rows of the
BIG side map-side — before the shuffle that the real join would pay.
At 100 TB the win is the shuffle you never do: a 0.2%-selective semi-join
moves 0.2% (+ the false-positive rate) of the big table instead of all
of it.

Two hash paths, same pattern as dedup.winnow_fingerprints:

* ``hash_fn="xxhash64"`` — JVM-intrinsic, one long per (key, seed); the
  production path.
* ``hash_fn="md5"`` — byte-identical in DuckDB, so the declared query's
  oracle can reconstruct the exact same bit-set and the false-positive
  COUNT (not just a tolerance) hash-matches across engines.

Everything is expressed as DataFrame ops: the bit-set is a ≤``m``-row
distinct-positions table (broadcast), membership is ``h`` chained
broadcast SEMI-joins fused into one map stage — no driver-side bit
array, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


__all__ = [
    "bloom_positions",
    "bloom_build",
    "bloom_filter",
    "bloom_report",
    "hll_bucket_rho",
    "hll_registers",
    "hll_estimate_from_registers",
    "hll_distinct",
    "kmv_sketch",
    "kmv_hash",
    "kmv_u",
    "kmv_overlap",
    "kmv_overlap_from_sketches",
    "cms_positions",
    "cms_build",
    "cms_lookup",
    "hll_daily_registers",
    "hll_merge_estimate",
]


def bloom_positions(
    key: Column,
    m: int = 65536,
    h: int = 3,
    salt: str = "bf",
    hash_fn: str = "xxhash64",
) -> Column:
    """Array of ``h`` bit positions in ``[0, m)`` for one key.

    ``m`` must be a power of 16 ≤ 16^15 on the md5 path (the position is
    the leading ``log16(m)`` hex chars of each salted digest, matching
    the DuckDB nibble reconstruction)."""
    key = key.cast("string")
    if hash_fn == "xxhash64":
        return F.array(
            *[F.pmod(F.xxhash64(F.lit(f"{salt}:{i}"), key), F.lit(m)) for i in range(h)]
        )
    if hash_fn == "md5":
        import math

        digits = round(math.log(m, 16))
        if 16**digits != m:
            raise ValueError(f"md5 path needs m = power of 16, got {m}")
        return F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{salt}:{i}:"), key)), 1, digits
                    ),
                    16,
                    10,
                ).cast("long")
                for i in range(h)
            ]
        )
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m: int = 65536,
    h: int = 3,
    salt: str = "bf",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The Bloom bit-set as a ≤``m``-row table of set positions (``pos``
    long).  One explode + distinct; bounded by ``m`` regardless of the
    key count, hence always broadcastable."""
    return (
        keys.select(
            F.explode(
                bloom_positions(F.col(key_col), m, h, salt, hash_fn)
            ).alias("pos")
        )
        .distinct()
    )


def bloom_filter(
    df: DataFrame,
    probe_col: str,
    bloom: DataFrame,
    m: int = 65536,
    h: int = 3,
    salt: str = "bf",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Rows of ``df`` whose ``probe_col`` passes the Bloom filter (all
    ``h`` positions present — no false negatives, false positives at the
    classic ``(1 - e^{-hn/m})^h`` rate).

    Plan: ``h`` chained broadcast SEMI-joins, one per probe position.
    Whole-stage codegen fuses them into a single map stage over ``df`` —
    row-preserving (duplicates survive), and the big side is never
    shuffled or grouped; the only data movement is the ≤``m``-row bit-set
    broadcast."""
    probes = bloom_positions(F.col(probe_col), m, h, salt, hash_fn)
    out = df
    for i in range(h):
        pcol = f"__bf_pos{i}"
        out = out.withColumn(pcol, probes.getItem(i)).join(
            bloom.withColumnRenamed("pos", pcol), pcol, "semi"
        )
    return out.drop(*[f"__bf_pos{i}" for i in range(h)])


def bloom_report(
    big: DataFrame,
    probe_col: str,
    keys: DataFrame,
    key_col: str,
    m: int = 65536,
    h: int = 3,
    salt: str = "bf",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One-row accounting of a Bloom pre-filter vs the exact semi-join:
    (bloom_pass, exact_pass, false_pos).  ``false_pos`` is deterministic
    given the hash path — the md5 path hash-matches a DuckDB twin.

    Each input is read once: the bit-set is built from the distinct
    non-NULL keys the exact check also reads (a NULL key sets no bit and
    matches nothing), and both pass counts come from one aggregate over
    ``big``, whose h + 1 left joins probe distinct tables, so no row
    multiplies."""
    dk = keys.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("__k")
    ).distinct()
    bloom = bloom_build(dk, "__k", m, h, salt, hash_fn)
    probes = bloom_positions(F.col("__k"), m, h, salt, hash_fn)
    flagged = big.select(F.col(probe_col).alias("__k")).join(
        dk.withColumn("__exact", F.lit(True)), "__k", "left"
    )
    for i in range(h):
        pcol = f"__bf_pos{i}"
        flagged = flagged.withColumn(pcol, probes.getItem(i)).join(
            bloom.select(F.col("pos").alias(pcol), F.lit(True).alias(f"__bf{i}")),
            pcol,
            "left",
        )
    passes = F.lit(True)
    for i in range(h):
        passes = passes & F.col(f"__bf{i}")
    return flagged.agg(
        F.count_if(passes).alias("bloom_pass"),
        F.count_if(F.col("__exact")).alias("exact_pass"),
    ).select(
        "bloom_pass",
        "exact_pass",
        (F.col("bloom_pass") - F.col("exact_pass")).alias("false_pos"),
    )


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (Flajolet et al. 2007, AofA)
# ---------------------------------------------------------------------------

#: alpha_m bias-correction constants for small register counts; larger m
#: uses the asymptotic 0.7213 / (1 + 1.079/m) formula from the paper.
_HLL_ALPHA_SMALL = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_alpha(m: int) -> float:
    return _HLL_ALPHA_SMALL.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_bucket_rho(
    value: Column, b: int = 8, salt: str = "hll"
) -> tuple[Column, Column]:
    """(register bucket, rho) of one value under the md5-based HLL hash.

    The hash is md5(``salt:value``): the first ``b/4`` hex chars pick the
    register (``b`` must be a nibble multiple so the split is exact), the
    next 15 hex chars form the 60-bit observation window, and rho is the
    1-based position of the window's first set bit (61 if it is all
    zero).  rho is extracted WITHOUT materializing the 60-bit integer:
    count the run of leading '0' hex chars, then the leading zeros inside
    the first non-zero nibble via ``length(bin(nibble))`` — every step is
    string/integer-exact and byte-identical in DuckDB (same md5, same
    regexp_extract, same bin), which is what lets the declared query
    hash-match its oracle instead of settling for a tolerance check.
    """
    if b % 4 != 0 or b <= 0:
        raise ValueError(f"b must be a positive multiple of 4, got {b}")
    nib = b // 4
    if nib + 15 > 32:
        raise ValueError(f"b too large for a 128-bit digest: {b}")
    hx = F.md5(F.concat(F.lit(salt + ":"), value.cast("string")))
    bucket = F.conv(F.substring(hx, 1, nib), 16, 10).cast("long")
    whex = F.substring(hx, nib + 1, 15)
    z = F.length(F.regexp_extract(whex, "^(0*)", 1))
    first_nib = F.conv(whex.substr(z + 1, F.lit(1)), 16, 10).cast("int")
    rho = F.when(z == 15, F.lit(61)).otherwise(
        F.lit(4) * z + F.lit(5) - F.length(F.bin(first_nib))
    )
    return bucket, rho.cast("int")


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    b: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """Per-group HLL register table: (group..., bucket, r) with
    ``r = max(rho)`` — at most ``2^b`` rows per group whatever the input
    size, so registers are always mergeable/broadcastable.  NULL values
    are skipped (COUNT DISTINCT semantics).  On a streaming DataFrame
    this aggregate is the live distinct-count sketch: register maxima
    are monotone, so a latest-wins sink converges under replay with no
    watermark, and state stays at most ``2^b`` registers per group
    whatever the stream length."""
    return _hll_register_agg(df, value_col, group_cols, b, salt)


def _hll_register_agg(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...],
    b: int,
    salt: str,
    *aggs: Column,
) -> DataFrame:
    """:func:`hll_registers`' (group..., bucket) aggregate, with ``aggs``
    computed beside ``r`` in the same pass."""
    bucket, rho = hll_bucket_rho(F.col(value_col), b, salt)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"), *aggs)
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    b: int = 8,
) -> DataFrame:
    """Fold a register table (group..., bucket, r) into per-group
    estimates (group..., hll_estimate) — the finisher shared by
    :func:`hll_distinct` and the streaming register aggregate
    (:func:`hll_registers` on a stream), so batch and stream cannot
    drift.  A register table that also carries ``n``, the count of
    distinct values in each register, folds into (group...,
    exact_distinct, hll_estimate): the exact count is their sum.

    The harmonic sum folds over the bucket-SORTED register array (left
    fold, 0.0 init) so float rounding is order-pinned on both engines;
    each 2^{-r} term is dyadic-exact."""
    m = 1 << b
    alpha = _hll_alpha(m)
    gcols = list(group_cols)
    # coalesce keeps the sum non-nullable, as a count is
    exact = ["exact_distinct"] if "n" in regs.columns else []
    folded = regs.groupBy(*gcols).agg(
        F.count("*").alias("__present"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bucket", "r"))),
            F.lit(0.0),
            lambda acc, x: acc
            + F.pow(F.lit(2.0), -x.getField("r").cast("double")),
        ).alias("__s_present"),
        *[F.coalesce(F.sum("n"), F.lit(0)).alias(c) for c in exact],
    )
    s = F.col("__s_present") + (F.lit(m) - F.col("__present")).cast("double")
    raw = F.lit(alpha) * F.lit(float(m * m)) / s
    v = F.lit(m) - F.col("__present")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return folded.select(*gcols, *exact, F.round(est, 4).alias("hll_estimate"))


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    b: int = 8,
    salt: str = "hll",
    include_exact: bool = False,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group — deterministic, so
    it hash-matches a SQL oracle (unlike ``approx_count_distinct``, whose
    sketch is engine-private; see the ``approx_distinct`` declared query's
    tolerance contract).

    Estimator (Flajolet et al. 2007): E = alpha_m · m² / Σ_j 2^{-M[j]}
    with the small-range linear-counting correction E ≤ 2.5m ∧ V>0 →
    m·ln(m/V), V = empty registers.  The harmonic sum folds over the
    bucket-SORTED register array (left fold, 0.0 init) so float rounding
    is order-pinned on both engines; each term 2^{-r} is dyadic-exact.

    Plan at scale: one (group, bucket) partial-aggregable shuffle bounded
    at 2^b rows per group — the whole point of HLL at 100 TB: no
    (group, value) distinct shuffle, registers merge associatively.
    ``include_exact=True`` adds the exact count + relative error for
    accuracy reporting (that path DOES pay the distinct — report/testing
    only).

    Output: (group...[, exact_distinct], hll_estimate[, rel_err]) — 4dp.
    """
    gcols = list(group_cols)
    if include_exact:
        # one pass over the distinct values: each register also counts
        # its values and the fold sums them, so the exact count needs no
        # second aggregate of the input and no join
        regs = _hll_register_agg(
            df.select(*gcols, value_col).distinct(), value_col, gcols, b, salt,
            F.count("*").alias("n"),
        )
    else:
        regs = hll_registers(df, value_col, gcols, b, salt)
    out = hll_estimate_from_registers(regs, gcols, b)
    if include_exact:
        out = out.withColumn(
            "rel_err",
            # NULL, not a division by zero, on an empty input's one row
            F.round(
                F.when(
                    F.col("exact_distinct") > 0,
                    F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct"),
                ),
                4,
            ),
        )
    return out.orderBy(*gcols) if gcols else out


# ---------------------------------------------------------------------------
# K-minimum-values sketches (Beyer et al. SIGMOD'07) — distinct + set overlap
# ---------------------------------------------------------------------------

#: 16^15 = 2^60 — the hash-fraction denominator.  A power of two, so the
#: division is an exact double scaling on both engines.
_KMV_DEN = float(16**15)


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` lexicographically-smallest salted
    md5 hashes of the group's distinct values, as (group..., h, u) rows —
    ``u`` is the hash mapped to (0,1) via its first 15 hex chars (a
    60-bit integer over 2^60; both steps are correctly-rounded on both
    engines, so estimates hash-match a SQL oracle).

    KMV's defining property: the k smallest of a UNION equal the k
    smallest of the merged per-set sketches — sketches union+re-top-k
    into exact union sketches, which is what :func:`kmv_overlap`
    exploits.  Plan: one (group, h) distinct + a per-group top-k window;
    the output is ≤ k rows per group whatever the input size."""
    h = kmv_hash(F.col(value_col), salt)
    gcols = list(group_cols)
    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(*gcols, h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*gcols).orderBy("h")
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(*gcols, "h", kmv_u(F.col("h")).alias("u"))
    )


def kmv_hash(value: Column, salt: str = "kmv") -> Column:
    """The KMV hash of one value — shared by the batch sketch and the
    streaming maintainer so their hash spaces cannot drift."""
    return F.md5(F.concat(F.lit(salt + ":"), value.cast("string")))


def kmv_u(h: Column) -> Column:
    """Map a KMV hash to its (0,1) fraction: first-15-nibble integer
    over 2^60 (exact double scaling, correctly-rounded on both
    engines)."""
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(
        _KMV_DEN
    )


def kmv_overlap(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Pairwise set-overlap estimates between groups from KMV sketches:
    (g_a, g_b, jaccard_est, union_est, inter_est) for every group pair
    g_a < g_b — the audience-overlap question ("how many values do these
    partitions share?") answered WITHOUT a pairwise distinct join.

    Estimator (Beyer'07 §5): X = the k smallest of sketch_A ∪ sketch_B
    (exactly the k smallest of A ∪ B, by the KMV merge property);
    Ĵ = |{h ∈ X : h ∈ A ∧ h ∈ B}| / |X|; union D̂ = (|X|−1)/u_(|X|) —
    or |X| exactly when the union fits inside the sketch; intersection
    = Ĵ·D̂.  Membership flags are exact: h ∈ X ∩ A implies h is among
    A's k smallest, hence in A's sketch.

    Scale shape: the corpus is scanned ONCE (the sketch build); the pair
    stage touches only sketch rows — G·(G−1)·k rows for G groups — so
    it never rescans data.  Outputs rounded 4dp."""
    sk = kmv_sketch(df, value_col, [group_col], k, salt)
    return kmv_overlap_from_sketches(sk, group_col, k)


def kmv_overlap_from_sketches(
    sk: DataFrame, group_col: str, k: int = 256
) -> DataFrame:
    """The pair stage of :func:`kmv_overlap` over a PREBUILT sketch
    table (group_col, h, u) — e.g. one maintained incrementally by
    ``streaming/cardinality.kmv_sketch_stream`` — so streaming sketches
    feed the identical estimator (the shared-finisher discipline)."""
    gl = sk.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        gl.select(F.col("g").alias("g_a"))
        .crossJoin(gl.select(F.col("g").alias("g_b")))
        .filter(F.col("g_a") < F.col("g_b"))
    )
    a_rows = pairs.join(
        sk.select(F.col(group_col).alias("g_a"), "h", "u"), "g_a"
    ).select(
        "g_a", "g_b", "h", "u",
        F.lit(True).alias("__in_a"), F.lit(False).alias("__in_b"),
    )
    b_rows = pairs.join(
        sk.select(F.col(group_col).alias("g_b"), "h", "u"), "g_b"
    ).select(
        "g_a", "g_b", "h", "u",
        F.lit(False).alias("__in_a"), F.lit(True).alias("__in_b"),
    )
    merged = (
        a_rows.unionByName(b_rows)
        .groupBy("g_a", "g_b", "h")
        .agg(
            F.max("__in_a").alias("__in_a"),
            F.max("__in_b").alias("__in_b"),
            F.min("u").alias("u"),
        )
    )
    w = Window.partitionBy("g_a", "g_b").orderBy("h")
    x = merged.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    stats = x.groupBy("g_a", "g_b").agg(
        F.count("*").alias("__kk"),
        F.sum(
            F.when(F.col("__in_a") & F.col("__in_b"), 1).otherwise(0)
        ).alias("__matches"),
        F.max("u").alias("__uk"),
    )
    jac = F.col("__matches").cast("double") / F.col("__kk").cast("double")
    union_est = F.when(
        F.col("__kk") < k, F.col("__kk").cast("double")
    ).otherwise(
        (F.col("__kk") - 1).cast("double") / F.col("__uk")
    )
    return stats.select(
        "g_a",
        "g_b",
        F.round(jac, 4).alias("jaccard_est"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jac * union_est, 4).alias("inter_est"),
    ).orderBy("g_a", "g_b")


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan '05) — deterministic md5 rows
# ---------------------------------------------------------------------------

def cms_positions(
    value: Column, d: int = 4, w: int = 4096, salt: str = "cms"
) -> Column:
    """Array of ``d`` (row, col) position structs for one value — one
    salted md5 per row, leading ``log16(w)`` hex chars as the column
    (the Bloom nibble convention, byte-identical in DuckDB).  ``w`` must
    be a power of 16."""
    import math

    digits = round(math.log(w, 16))
    if 16**digits != w:
        raise ValueError(f"w must be a power of 16, got {w}")
    v = value.cast("string")
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{salt}:{i}:"), v)), 1, digits
                    ),
                    16,
                    10,
                ).cast("long").alias("pos"),
            )
            for i in range(d)
        ]
    )


def cms_build(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 4096,
    salt: str = "cms",
) -> DataFrame:
    """Count-min sketch of a column's value frequencies as a ≤ ``d·w``-row
    (r, pos, c) counter table — one explode + one partial-aggregable
    groupBy over the corpus, and the result is broadcast-sized whatever
    the input cardinality.  Guarantees: estimate ≥ true count, and
    ≤ true + εN with ε = e/w at probability 1−e^{−d} (Cormode &
    Muthukrishnan '05).  NULLs are skipped."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(cms_positions(F.col(value_col), d, w, salt)).alias("p"))
        .select("p.r", "p.pos")
        .groupBy("r", "pos")
        .agg(F.count("*").cast("long").alias("c"))
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 4096,
    salt: str = "cms",
) -> DataFrame:
    """Point-frequency estimates for ``probes[value_col]`` (deduplicated):
    (value, cms_n) with cms_n = min over the ``d`` counter rows.  The
    sketch is ≤ d·w rows, so the join is a broadcast hash join against
    the exploded probe positions — the probe side is never shuffled."""
    p = (
        probes.select(F.col(value_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .distinct()
        .select(
            "__v",
            F.explode(cms_positions(F.col("__v"), d, w, salt)).alias("p"),
        )
        .select("__v", "p.r", "p.pos")
    )
    return (
        # an explicit hint, not AQE's runtime choice: the sketch is
        # PROVABLY ≤ d·w rows by construction, and the documented "probe
        # side never shuffles" contract must hold even with AQE off
        p.join(F.broadcast(sketch), ["r", "pos"], "left")
        .groupBy("__v")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_n"))
        .select(F.col("__v").alias(value_col), "cms_n")
    )


def hll_daily_registers(
    df: DataFrame,
    value_col: str,
    ts_ms: Column,
    group_cols: list[str] | tuple[str, ...] = (),
    b: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """Day-bucketed HLL register table: (day, group..., bucket, r) with
    ``day = ts_ms div 86400000`` (the integer-div day convention).  The
    pre-aggregated distinct-count cube: persist this (e.g. as a
    streaming/rollup.py rollup partitioned by day) and ANY date range's
    cardinality comes from a register max-merge over ≤ days·2^b rows —
    no rescan, which plain per-day distinct counts cannot do (they don't
    add)."""
    base = df.filter(F.col(value_col).isNotNull()).select(
        ts_ms.alias("__ts_ms"), *group_cols, value_col
    )
    return hll_registers(
        base.select(
            F.expr("__ts_ms div 86400000").alias("day"), *group_cols, value_col
        ),
        value_col,
        ["day", *group_cols],
        b,
        salt,
    )


def hll_merge_estimate(
    regs: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    b: int = 8,
) -> DataFrame:
    """Max-merge a register table over any extra dimensions (days,
    partitions, streams) down to ``group_cols`` and estimate: registers
    are associative maxima, so merged sketches estimate the UNION's
    cardinality exactly as if built in one pass — the property the
    parity test pins (merge-then-estimate ≡ estimate-on-filtered-data).
    """
    gcols = list(group_cols)
    merged = regs.groupBy(*gcols, "bucket").agg(F.max("r").alias("r"))
    return hll_estimate_from_registers(merged, gcols, b)
