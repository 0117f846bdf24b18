"""Property-based tests (hypothesis) for the pure integer cores of the
two-sample/rank statistics — no Spark session: these drive the numpy
Knight machinery (`analytics._knight_counts`) and pure-python mirrors
of the cell-table formulations against brute-force O(n²) pair loops on
arbitrary tie-heavy data.  The Spark-side tests pin fixed points and
oracle parity; these pin the ALGEBRA on thousands of random shapes."""

from __future__ import annotations

import itertools
import math
from collections import Counter

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from streamkit_spark.functions.analytics import (
    _count_inversions,
    _knight_counts,
    _run_tie_pairs,
)

# tie-heavy by construction: small value domains force every tie path
vals = st.integers(min_value=-5, max_value=5)
pairs_lists = st.lists(st.tuples(vals, vals), min_size=0, max_size=60)


@given(st.lists(vals, min_size=0, max_size=80))
@settings(max_examples=300, deadline=None)
def test_inversion_count_matches_brute_force(ys):
    arr = np.array(ys, dtype=np.int64)
    brute = sum(
        1 for i, j in itertools.combinations(range(len(ys)), 2)
        if ys[i] > ys[j]
    )
    assert _count_inversions(arr) == brute


@given(st.lists(vals, min_size=0, max_size=80))
@settings(max_examples=300, deadline=None)
def test_run_tie_pairs_matches_counter(ys):
    arr = np.sort(np.array(ys, dtype=np.int64), kind="stable")
    want = sum(c * (c - 1) // 2 for c in Counter(ys).values())
    assert _run_tie_pairs(arr) == want


@given(pairs_lists)
@settings(max_examples=300, deadline=None)
def test_knight_counts_match_brute_pair_loop(pts):
    xs = np.array([p[0] for p in pts], dtype=np.int64)
    ys = np.array([p[1] for p in pts], dtype=np.int64)
    c, d, n0, n1, n2 = _knight_counts(xs, ys)
    bc = bd = bt1 = bt2 = 0
    for (x1, y1), (x2, y2) in itertools.combinations(pts, 2):
        if x1 == x2:
            bt1 += 1
        if y1 == y2:
            bt2 += 1
        if x1 != x2 and y1 != y2:
            if (x1 < x2) == (y1 < y2):
                bc += 1
            else:
                bd += 1
    n = len(pts)
    assert (c, d) == (bc, bd)
    assert n0 == n * (n - 1) // 2
    assert (n1, n2) == (bt1, bt2)
    # conservation: every pair is concordant, discordant, or tied
    joint = sum(
        1 for (x1, y1), (x2, y2) in itertools.combinations(pts, 2)
        if x1 == x2 and y1 == y2
    )
    assert c + d + n1 + n2 - joint == n0


def _ref_two_sample(xs, ys):
    """Brute references for KS D, CvM W², AD A²akN, Cliff's δ over two
    samples — straight from the textbook definitions."""
    n1, n2 = len(xs), len(ys)
    nn = n1 + n2
    cx, cy = Counter(xs), Counter(ys)
    pooled = sorted(set(xs) | set(ys))
    # KS / CvM over right-continuous CDFs
    d_max = 0.0
    w2 = 0.0
    c1 = c2 = 0
    for v in pooled:
        c1 += cx.get(v, 0)
        c2 += cy.get(v, 0)
        l = cx.get(v, 0) + cy.get(v, 0)
        gap = abs(c1 / n1 - c2 / n2)
        d_max = max(d_max, gap)
        w2 += l * (c1 / n1 - c2 / n2) ** 2
    w2 *= n1 * n2 / nn**2
    # AD midrank (Scholz-Stephens eq. 7)
    sx = sy = 0.0
    cumx = cumy = cump = 0
    for v in pooled:
        lx, ly = cx.get(v, 0), cy.get(v, 0)
        l = lx + ly
        mx, my = cumx + lx / 2, cumy + ly / 2
        bj = cump + l / 2
        den = bj * (nn - bj) - nn * l / 4
        if den > 0:
            sx += (l / nn) * (nn * mx - n1 * bj) ** 2 / den
            sy += (l / nn) * (nn * my - n2 * bj) ** 2 / den
        cumx, cumy, cump = cumx + lx, cumy + ly, cump + l
    a2 = (nn - 1) / nn * (sx / n1 + sy / n2)
    # Cliff's delta
    gt = sum(1 for x in xs for y in ys if x > y)
    lt = sum(1 for x in xs for y in ys if x < y)
    delta = (gt - lt) / (n1 * n2)
    return d_max, w2, a2, delta


def _cells_two_sample(xs, ys):
    """Pure-python mirror of the engine's CELL-TABLE integer cores
    (ks/cvm/ad_from_cells over _cdf_grid, cliffs via _ranksum_parts) —
    the same doubled-midrank / cum-count arithmetic, no Spark."""
    n1, n2 = len(xs), len(ys)
    nn = n1 + n2
    cx = Counter(xs)
    call = Counter(xs) + Counter(ys)
    pooled = sorted(call)
    cum1 = cump = 0
    dnum_max = 0
    s_cvm = 0.0
    s_ad = 0.0
    for v in pooled:
        cf = cx.get(v, 0)
        l = call[v]
        m2 = 2 * cum1 + cf          # doubled group midrank count
        b2 = 2 * cump + l           # doubled pooled midrank count
        cum1 += cf
        cump += l
        # KS: exact integer |cum1·n2 − cum2·n1|
        dnum = abs(cum1 * n2 - (cump - cum1) * n1)
        dnum_max = max(dnum_max, dnum)
        # CvM: same D, squared, weighted by l
        s_cvm += l * float(cum1 * n2 - (cump - cum1) * n1) ** 2
        # AD: doubled-midrank integers T and D2
        t = nn * m2 - n1 * b2
        d2 = b2 * (2 * nn - b2) - nn * l
        if d2 > 0:
            s_ad += l * float(t) ** 2 / d2
    ks = dnum_max / (n1 * n2)
    w2 = s_cvm / (n1 * n2 * nn * nn)
    sn = s_ad / nn
    a2 = (nn - 1) / nn * (sn / n1 + sn / n2)
    # Cliff via doubled average ranks (the _ranksum_parts algebra)
    cum = 0
    r2 = 0
    for v in pooled:
        t_all = call[v]
        dr = 2 * cum + t_all + 1
        r2 += cx.get(v, 0) * dr
        cum += t_all
    u2 = r2 - n1 * (n1 + 1)
    delta = (u2 - n1 * n2) / (n1 * n2)
    return ks, w2, a2, delta


@given(
    st.lists(vals, min_size=1, max_size=40),
    st.lists(vals, min_size=1, max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_cell_table_cores_match_textbook_definitions(xs, ys):
    """The engine's integer-core formulations (cum counts, doubled
    midranks, doubled ranks) equal the textbook CDF/midrank/dominance
    definitions on arbitrary tie-heavy samples — the algebra the
    Spark and oracle implementations both encode."""
    ks_r, w2_r, a2_r, dl_r = _ref_two_sample(xs, ys)
    ks_c, w2_c, a2_c, dl_c = _cells_two_sample(xs, ys)
    assert math.isclose(ks_c, ks_r, abs_tol=1e-12)
    assert math.isclose(w2_c, w2_r, rel_tol=1e-9, abs_tol=1e-12)
    assert math.isclose(a2_c, a2_r, rel_tol=1e-9, abs_tol=1e-12)
    assert math.isclose(dl_c, dl_r, abs_tol=1e-12)


# ---------------------------------------------------------------------------
# r8: the same treatment for the OLDER stat cores (VERDICT r7 item #6) —
# pure-python mirrors of the engine's integer/cell algebra vs textbook
# definitions.  The AD N-scaling bug proved engine==oracle==reference can
# share one omission; these pin each formulation against an INDEPENDENT
# derivation (mean-difference Gini, per-item Theil, Pearson-over-average-
# ranks Spearman, the o²/(rt·ct) chi2 identity) on random tie-heavy data.
# ---------------------------------------------------------------------------

from fractions import Fraction  # noqa: E402


def _spearman_mirror(pts):
    """The engine's doubled-rank integer core (spearman_by_group):
    dr = 2·rank + ties − 1 per coordinate, five exact moments, one
    final float divide."""
    n = len(pts)

    def doubled(vs):
        from collections import Counter as _C

        cnt = _C(vs)
        return [
            2 * (1 + sum(c for w, c in cnt.items() if w < v)) + cnt[v] - 1
            for v in vs
        ]

    rx = doubled([p[0] for p in pts])
    ry = doubled([p[1] for p in pts])
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    if dx <= 0 or dy <= 0:
        return None
    return num / math.sqrt(dx * dy)


def _spearman_reference(pts):
    """Textbook Spearman: Pearson over average (fractional) ranks,
    exact rationals until the final float."""
    from collections import Counter as _C

    def avg_ranks(vs):
        cnt = _C(vs)
        return [
            Fraction(2 * sum(c for w, c in cnt.items() if w < v) + cnt[v] + 1, 2)
            for v in vs
        ]

    rx = avg_ranks([p[0] for p in pts])
    ry = avg_ranks([p[1] for p in pts])
    n = len(pts)
    mx = sum(rx) / n
    my = sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    if vx == 0 or vy == 0:
        return None
    return float(cov) / math.sqrt(float(vx) * float(vy))


@given(pairs_lists)
@settings(max_examples=300, deadline=None)
def test_spearman_doubled_rank_core_matches_average_rank_pearson(pts):
    got = _spearman_mirror(pts) if pts else None
    want = _spearman_reference(pts) if pts else None
    assert (got is None) == (want is None)
    if got is not None:
        assert math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)


@given(st.lists(st.integers(min_value=0, max_value=6), min_size=2, max_size=50))
@settings(max_examples=200, deadline=None)
def test_spearman_strictly_monotone_is_exactly_one(idx):
    # strictly increasing x with y = x (distinct values, no ties)
    pts = [(i, i) for i in range(len(idx))]
    assert _spearman_mirror(pts) == 1.0


def _chi2_mirror(cells):
    """The engine's chi2_from_cells algebra: Σ (o−e)²/e over the sorted
    OBSERVED cells plus the closed-form structural-zero mass
    n − Σ_observed e (every zero cell contributes e and Σ_all e = n) —
    the full-table Pearson statistic from observed cells only."""
    from collections import defaultdict

    rt: dict = defaultdict(int)
    ct: dict = defaultdict(int)
    n = 0
    for (r, c), o in cells.items():
        rt[r] += o
        ct[c] += o
        n += o
    if n == 0:
        return None
    s = 0.0
    se = 0.0
    for (r, c) in sorted(cells):
        o = cells[(r, c)]
        e = rt[r] * ct[c] / n
        s += (o - e) * (o - e) / e
        se += e
    return s + (n - se)


@given(
    st.dictionaries(
        st.tuples(st.integers(0, 3), st.integers(0, 3)),
        st.integers(min_value=1, max_value=20),
        min_size=1,
        max_size=16,
    )
)
@settings(max_examples=300, deadline=None)
def test_chi2_cell_fold_matches_sum_identity(cells):
    """The engine's algebra (observed fold + closed-form zero-cell
    mass) equals the independent identity n·Σ o²/(rt·ct) − n, which IS
    the full-table Pearson statistic (zero cells add 0 to Σo² but e to
    the (o−e)²/e sum) — two derivations that share nothing but the
    definition."""
    from collections import defaultdict

    rt: dict = defaultdict(int)
    ct: dict = defaultdict(int)
    n = 0
    for (r, c), o in cells.items():
        rt[r] += o
        ct[c] += o
        n += o
    got = _chi2_mirror(cells)
    ident = n * sum(
        o * o / (rt[r] * ct[c]) for (r, c), o in cells.items()
    ) - n
    assert math.isclose(got, ident, rel_tol=1e-9, abs_tol=1e-9)


@given(
    st.lists(st.integers(1, 9), min_size=1, max_size=4),
    st.lists(st.integers(1, 9), min_size=1, max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_chi2_outer_product_table_is_zero(rws, cls):
    """H₀ magnitude: a perfectly independent table (counts = the outer
    product of the margins) scores chi2 exactly 0."""
    cells = {
        (i, j): a * b for i, a in enumerate(rws) for j, b in enumerate(cls)
    }
    assert math.isclose(_chi2_mirror(cells), 0.0, abs_tol=1e-9)


def _gini_mirror_cells(cents):
    """The engine's gini_from_cells algebra on integer cent values:
    per distinct value, w = c·cum_prev + c(c+1)/2; G = (2Σx·w −
    (n+1)Σx·c) / (n·Σx·c) — exact rationals."""
    n = len(cents)
    cnt = Counter(cents)
    cum = 0
    six = 0
    sx = 0
    for v in sorted(cnt):
        c = cnt[v]
        w = c * cum + c * (c + 1) // 2
        six += v * w
        sx += v * c
        cum += c
    if sx <= 0:
        return None
    return Fraction(2 * six - (n + 1) * sx, n * sx)


@given(st.lists(st.integers(0, 500), min_size=1, max_size=60))
@settings(max_examples=300, deadline=None)
def test_gini_rank_weight_equals_mean_difference_form(cents):
    """The tie-stable Lorenz rank-weight Gini equals the textbook
    mean-absolute-difference form Σᵢⱼ|xᵢ−xⱼ| / (2n²μ) — exactly, in
    rationals."""
    got = _gini_mirror_cells(cents)
    n = len(cents)
    sx = sum(cents)
    if sx == 0:
        assert got is None
        return
    mad = sum(abs(a - b) for a in cents for b in cents)  # ordered pairs
    want = Fraction(mad * n, 2 * n * n * sx)
    assert got == want


def _theil_mirror_cells(cents):
    """The engine's theil_from_cells fold: ascending-cent cells,
    term = c·(x/μ)·ln(x/μ), divided by n."""
    pos = [v for v in cents if v > 0]
    if not pos:
        return None
    n = len(pos)
    cnt = Counter(pos)
    mu = sum(pos) / n
    acc = 0.0
    for v in sorted(cnt):
        acc = acc + (cnt[v] * (v / mu)) * math.log(v / mu)
    return acc / n


@given(st.lists(st.integers(1, 500), min_size=1, max_size=60))
@settings(max_examples=300, deadline=None)
def test_theil_cell_fold_matches_per_item_definition(cents):
    got = _theil_mirror_cells(cents)
    n = len(cents)
    total = sum(cents)
    mu = total / n
    want = math.fsum((v / total) * math.log(v / mu) for v in cents)
    assert math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)
    # Theil T is non-negative (Jensen) and 0 iff all values equal
    assert got >= -1e-12
    if len(set(cents)) == 1:
        assert got == 0.0


def _kappa_mirror_cells(cells):
    """The engine's kappa_from_cells algebra: exact integer contingency
    counts, chance mass Σ rt·ct over shared categories, ONE division
    (n·agree − pe_num)/(n² − pe_num) — mirrored on exact Fractions."""
    n = sum(cells.values())
    if n == 0:
        return None
    agree = sum(o for (r, c), o in cells.items() if r == c)
    rt = Counter()
    ct = Counter()
    for (r, c), o in cells.items():
        rt[r] += o
        ct[c] += o
    pe_num = sum(rt[k] * ct[k] for k in set(rt) & set(ct))
    den = n * n - pe_num
    if den == 0:
        return None
    return Fraction(n * agree - pe_num, den)


confusion_tables = st.dictionaries(
    st.tuples(st.integers(0, 3), st.integers(0, 3)),
    st.integers(1, 50),
    min_size=0,
    max_size=16,
)


@given(confusion_tables)
@settings(max_examples=300, deadline=None)
def test_kappa_cell_algebra_matches_textbook_definition(cells):
    """κ = (p_o − p_e)/(1 − p_e) from the Cohen 1960 definition on
    per-item probabilities must equal the integer-core formulation."""
    got = _kappa_mirror_cells(cells)
    n = sum(cells.values())
    if n == 0:
        assert got is None
        return
    po = Fraction(sum(o for (r, c), o in cells.items() if r == c), n)
    rt = Counter()
    ct = Counter()
    for (r, c), o in cells.items():
        rt[r] += o
        ct[c] += o
    pe = sum(Fraction(rt[k], n) * Fraction(ct[k], n) for k in rt if k in ct)
    if pe == 1:
        assert got is None
        return
    assert got == (po - pe) / (1 - pe)
    # range law: κ ∈ [−1, 1] (the H₀-magnitude class of check)
    assert -1 <= got <= 1


@given(
    st.lists(st.integers(1, 40), min_size=1, max_size=4),
    st.lists(st.integers(1, 40), min_size=1, max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_kappa_outer_product_table_is_zero(rws, cls):
    """H₀ magnitude: an exact-independence table (o = outer product of
    the margins) has p_o == p_e, so κ is exactly 0."""
    cells = {
        (i, j): a * b
        for i, a in enumerate(rws)
        for j, b in enumerate(cls)
    }
    got = _kappa_mirror_cells(cells)
    if got is None:
        # pe == 1 ⇔ single row AND single column category
        assert len(rws) == 1 and len(cls) == 1
        return
    assert got == 0


def _ece_mirror_cells(samples, n_buckets=10):
    """The engine's calibration_cells + ece_from_cells algebra: clamp,
    fixed-width bin, 4dp-quantized probability sums, mass-weighted
    absolute gaps summed in bucket order."""
    cells = {}
    for p, y in samples:
        pc = min(max(p, 0.0), 1.0)
        b = min(max(math.floor(pc * n_buckets), 0), n_buckets - 1)
        n, pos, psum = cells.get(b, (0, 0, Fraction(0)))
        q = Fraction(round(Fraction(pc).limit_denominator(10**9) * 10000), 10000)
        cells[b] = (n + 1, pos + (1 if y else 0), psum + q)
    if not cells:
        return None
    tn = sum(c[0] for c in cells.values())
    ece = 0.0
    mce = 0.0
    for b in sorted(cells):
        n, pos, psum = cells[b]
        gap = abs(pos / n - float(psum) / n)
        ece = ece + (n / tn) * gap
        mce = max(mce, gap)
    return ece, mce


@given(
    st.lists(
        st.tuples(
            st.integers(0, 10000).map(lambda k: k / 10000.0),
            st.booleans(),
        ),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=200, deadline=None)
def test_ece_cell_fold_matches_per_sample_binning(samples):
    """ECE from the cell table must equal the direct per-sample
    definition: bin every sample, then Σ (n_b/N)|acc_b − conf_b| —
    and both gaps are bounded by 1 (the range law)."""
    got = _ece_mirror_cells(samples)
    assert got is not None
    ece, mce = got
    # direct: group samples by bin
    bins = {}
    for p, y in samples:
        b = min(max(math.floor(min(max(p, 0.0), 1.0) * 10), 0), 9)
        bins.setdefault(b, []).append((p, y))
    n = len(samples)
    want = math.fsum(
        (len(v) / n)
        * abs(
            sum(1 for _, y in v if y) / len(v)
            - sum(p for p, _ in v) / len(v)
        )
        for v in bins.values()
    )
    # 4dp probs are exact in the quantization, so only float-order slack
    assert math.isclose(ece, want, rel_tol=1e-9, abs_tol=1e-12)
    assert 0 <= ece <= mce <= 1


def _hill_mirror_cells(values, k):
    """The engine's hill_from_cells algebra: distinct-value cells,
    (k+1)-th-largest threshold by descending cumulative count, then
    Σ c·ln(v/u) over cells strictly above it."""
    pos = [v for v in values if v > 0]
    cnt = Counter(pos)
    cum = 0
    u = None
    for v in sorted(cnt, reverse=True):
        cum += cnt[v]
        if cum >= k + 1:
            u = v
            break
    if u is None:
        return None
    s = 0.0
    for v in sorted(cnt):
        if v > u:
            s = s + cnt[v] * math.log(v / u)
    return k / s if s > 0 else None


@given(
    st.lists(st.integers(1, 30), min_size=0, max_size=80),
    st.integers(1, 20),
)
@settings(max_examples=300, deadline=None)
def test_hill_cell_algebra_matches_row_definition(values, k):
    """The cell-table Hill must equal the textbook row form: sort rows
    descending, u = the (k+1)-th row, α = k / Σ_{i≤k} ln(x_i/u) —
    ties at u contribute ln(1) = 0, so both forms agree exactly."""
    got = _hill_mirror_cells(values, k)
    rows = sorted((v for v in values if v > 0), reverse=True)
    if len(rows) < k + 1:
        assert got is None
        return
    u = rows[k]
    s = math.fsum(math.log(x / u) for x in rows[:k])
    if s <= 0:
        assert got is None
        return
    want = k / s
    assert math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-12)
    # scale invariance: Hill is invariant to multiplying the sample
    scaled = _hill_mirror_cells([v * 7 for v in values], k)
    assert math.isclose(got, scaled, rel_tol=1e-9)


def _containment_candidates_mirror(docs, t_num, t_den, max_df=None):
    """The engine's containment_pairs candidate generation: per-doc
    prefix = the |A| − ⌈t·|A|⌉ + 1 globally-rarest shingles (integer
    ceil, (df, shingle)-ordered), minus shingles with df > max_df;
    candidates = prefix(doc) × any other doc containing that shingle,
    KEPT only if the POSITIONAL suffix bound holds —
    min(|P|−i, |F|−j)·t_den ≥ min(|P|,|F|)·t_num with i/j the shared
    shingle's 0-based (df, shingle)-order ranks in each doc
    (dedup.containment_candidates_from_ranks' `keep` filter)."""
    df_ = Counter(s for ss in docs.values() for s in ss)
    order = {d: sorted(ss, key=lambda s: (df_[s], s)) for d, ss in docs.items()}
    rank = {d: {s: i for i, s in enumerate(o)} for d, o in order.items()}
    cands = set()
    for d, ss in docs.items():
        n = len(ss)
        if n == 0:
            continue
        plen = n - (n * t_num + t_den - 1) // t_den + 1
        for s in order[d][:plen]:
            if max_df is not None and df_[s] > max_df:
                continue
            i = rank[d][s]
            for d2, ss2 in docs.items():
                if d2 == d or s not in ss2:
                    continue
                j = rank[d2][s]
                n2 = len(ss2)
                if min(n - i, n2 - j) * t_den >= min(n, n2) * t_num:
                    cands.add((min(d, d2), max(d, d2)))
    return cands, order, df_


@given(
    st.lists(
        st.frozensets(st.integers(0, 12), min_size=1, max_size=10),
        min_size=2,
        max_size=8,
    ),
    st.integers(5, 10),
)
@settings(max_examples=300, deadline=None)
def test_containment_prefix_candidates_have_exact_recall(sets, t10):
    """The PPJoin-prefix recall argument behind containment_pairs: any
    pair with C_max = |A∩B|/min ≥ t MUST appear among the prefix×full
    candidates — the smaller side's ⌈t·|A|⌉ shared shingles cannot all
    hide outside its |A|−⌈t·|A|⌉+1 rarest."""
    docs = dict(enumerate(sets))
    t_num, t_den = t10, 10
    cands, _, _ = _containment_candidates_mirror(docs, t_num, t_den)
    for i, j in itertools.combinations(docs, 2):
        a, b = docs[i], docs[j]
        inter = len(a & b)
        m = min(len(a), len(b))
        # the engine's exact integer threshold compare
        if m > 0 and inter * t_den >= m * t_num:
            assert (i, j) in cands, (docs[i], docs[j], t10)


@given(
    st.lists(
        st.frozensets(st.integers(0, 12), min_size=1, max_size=10),
        min_size=2,
        max_size=8,
    ),
    st.integers(5, 10),
    st.sampled_from([None, 1, 2, 3]),
)
@settings(max_examples=300, deadline=None)
def test_containment_max_df_keeps_pairs_with_a_low_df_prefix_shingle(
    sets, t10, max_df
):
    """The max_df recall contract: a qualifying pair that shares a
    prefix shingle (of either doc) with df ≤ max_df stays a candidate.
    The cut removes the highest-df shingles, which rank last in the
    (df, shingle) order, so the pair's smallest common shingle — the
    row that passes the positional filter — is cut only when every
    common shingle is."""
    docs = dict(enumerate(sets))
    t_num, t_den = t10, 10
    cands, order, df_ = _containment_candidates_mirror(
        docs, t_num, t_den, max_df
    )

    def prefix(d):
        n = len(docs[d])
        return order[d][: n - (n * t_num + t_den - 1) // t_den + 1]

    for i, j in itertools.combinations(docs, 2):
        a, b = docs[i], docs[j]
        m = min(len(a), len(b))
        if not (m > 0 and len(a & b) * t_den >= m * t_num):
            continue
        low = [
            s
            for s in set(prefix(i)) | set(prefix(j))
            if s in a and s in b and (max_df is None or df_[s] <= max_df)
        ]
        if low:
            assert (i, j) in cands, (a, b, t10, max_df)
