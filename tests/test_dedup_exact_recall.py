"""Exact recall of the shingle-set detectors against a brute force.

``ngram_jaccard_pairs``, ``overlap_coefficient_pairs``,
``containment_pairs`` and the combined ``near_dup_pairs_from_ranks`` run
on small seeded corpora and must return exactly the pairs (and scores) an
all-pairs Python computation over the same word 3-gram sets returns.  The
corpora carry near-duplicate variants, exact and case-only duplicate
texts, empty, blank and NULL text, docs shorter than 3 tokens, and
planted pairs whose score sits exactly on the threshold (3/4 and 3/5;
the combined pass adds 4/5 for Jaccard and 3/5, 4/5 for containment).
With a ``max_df`` cut the contract is: a qualifying pair is found iff
one of its common shingles has df ≤ max_df.  Curate's near-dup stage is
checked against a Python model of its drop rule."""

from __future__ import annotations

import random
from functools import reduce
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from streamkit_spark.functions import dedup as D
from streamkit_spark.pipeline import CurationConfig, _curate_stages

N = 3
T_DEN = 1_000_000


def _corpus(seed: int) -> list[tuple[int, str | None]]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]

    def words(k: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(k)]

    texts: list[str | None] = []
    for _ in range(8):
        base = words(rng.randint(4, 14))
        texts.append(" ".join(base))
        for _ in range(rng.randint(0, 3)):
            v = list(base)
            op = rng.choice(("sub", "del", "ins", "append", "cut"))
            at = rng.randrange(len(v))
            if op == "sub":
                v[at] = rng.choice(vocab)
            elif op == "del":
                del v[at]
            elif op == "ins":
                v.insert(at, rng.choice(vocab))
            elif op == "append":
                v += words(rng.randint(1, 6))
            else:
                v = v[: max(1, at)]
            texts.append(" ".join(v))
    a = ["x1", "x2", "x3", "x4", "x5"]  # 3 shingles; + one word: J = 3/4
    b = ["y1", "y2", "y3", "y4", "y5", "y6"]  # 4 shingles
    texts += [
        " ".join(a),
        " ".join(a + ["x6"]),
        " ".join(b),
        " ".join(b[:5] + ["y7"]),  # C = 3/4, J = 3/5 against b
        texts[0],
        texts[0].upper(),
        texts[0],
        "",
        "   ",
        None,
        "w1",
        "w1 w2",
    ]
    rng.shuffle(texts)
    return [(i + 1, t) for i, t in enumerate(texts)]


def _shingles(text: str | None) -> frozenset[str]:
    toks = (text or "").lower().split()
    return frozenset(" ".join(toks[i : i + N]) for i in range(len(toks) - N + 1))


def _overlaps(rows):
    """(id_a, id_b) -> (inter, |A|, |B|, min common df) for every pair of
    docs with a common shingle."""
    sets = {i: _shingles(t) for i, t in rows}
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    out = {}
    for a, b in combinations(sorted(sets), 2):
        common = sets[a] & sets[b]
        if common:
            out[(a, b)] = (
                len(common),
                len(sets[a]),
                len(sets[b]),
                min(df[sh] for sh in common),
            )
    return out


@pytest.mark.parametrize("seed", [0, 1])
def test_shingle_set_detectors_equal_brute_force(spark, seed):
    rows = _corpus(seed)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ov = _overlaps(rows)

    for t in (0.6, 0.75):
        want = {
            p: i / (na + nb - i)
            for p, (i, na, nb, _) in ov.items()
            if i / (na + nb - i) >= t
        }
        assert any(j == t for j in want.values())  # a pair on the boundary
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == want, f"jaccard t={t}"

    t = 0.75
    t_num = round(t * T_DEN)
    found = {}
    for max_df in (None, 2):
        cut = max_df or len(rows)
        want = {}
        for (a, b), (i, na, nb, mdf) in ov.items():
            if i * T_DEN >= min(na, nb) * t_num and mdf <= cut:
                want[(a, b)] = (i, a if na < nb else b)
        # a pair on the boundary: 3 of the smaller side's 4 shingles
        assert any(4 * i == 3 * min(ov[p][1:3]) for p, (i, _) in want.items())
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["contained_id"])
            for r in D.containment_pairs(docs, threshold=t, max_df=max_df)
            .collect()
        }
        assert got == want, f"containment max_df={max_df}"
        found[max_df] = set(got)

        want = {
            p: i / min(na, nb)
            for p, (i, na, nb, mdf) in ov.items()
            if i / min(na, nb) >= t and mdf <= cut
        }
        got = {
            (r["id_a"], r["id_b"]): r["overlap"]
            for r in D.overlap_coefficient_pairs(
                docs, threshold=t, max_df=cut
            ).collect()
        }
        assert got == want, f"overlap max_df={max_df}"
    # the cut bites: the triplicated text shares only df ≥ 3 shingles
    assert found[2] < found[None]


def _with_planted_thresholds(base):
    """``base`` plus pairs on the combined pass's thresholds, over words
    no other doc uses: J = 4/5 (a 4-shingle doc inside a 5-shingle one),
    and C = 4/5 and C = 3/5 (5 shingles quoted into a long doc), whose
    Jaccard stays far below 0.6."""
    tail = " ".join(f"t{k}" for k in range(20))
    planted = [
        "z1 z2 z3 z4 z5 z6 z7",
        "z1 z2 z3 z4 z5 z6",
        "q1 q2 q3 q4 q5 q6 q7",
        "q1 q2 q3 q4 q5 q6 " + tail,
        "r1 r2 r3 r4 r5 r6 r7",
        "r1 r2 r3 r4 r5 " + tail.replace("t", "u"),
    ]
    return list(base) + [(len(base) + k, t) for k, t in enumerate(planted, 1)]


def _near_dup_model(ov, t_j: float, t_c: float, cut: int) -> dict:
    """(id_a, id_b) -> (jaccard_hit, contained_id) by brute force: the
    Jaccard double compare, and the containment integer compare on pairs
    with a common shingle of df ≤ cut."""
    t_num = round(t_c * T_DEN)
    out = {}
    for (a, b), (i, na, nb, mdf) in ov.items():
        j_hit = i / (na + nb - i) >= t_j
        c_hit = i * T_DEN >= min(na, nb) * t_num and mdf <= cut
        if j_hit or c_hit:
            out[(a, b)] = (j_hit, (a if na < nb else b) if c_hit else None)
    return out


PASS_THRESHOLDS = ((0.8, 0.6), (0.6, 0.6), (0.6, 0.8))


@pytest.mark.parametrize("seed", [0, 1])
def test_near_dup_pass_equals_brute_force(spark, seed):
    """One ``near_dup_pairs_from_ranks`` per (t_J, t_C, max_df) — the
    containment-candidate set alone, and both unions with the Jaccard
    candidates — all collected in one action."""
    rows = _with_planted_thresholds(_corpus(seed))
    ranks = D.shingle_ranks(spark.createDataFrame(rows, "doc_id long, text string"))
    ov = _overlaps(rows)
    cfgs = [(tj, tc, m) for tj, tc in PASS_THRESHOLDS for m in (None, 2)]
    got = {c: {} for c in cfgs}
    tagged = [
        D.near_dup_pairs_from_ranks(ranks, tj, tc, m).withColumn("cfg", F.lit(k))
        for k, (tj, tc, m) in enumerate(cfgs)
    ]
    for r in reduce(lambda a, b: a.unionByName(b), tagged).collect():
        got[cfgs[r["cfg"]]][(r["id_a"], r["id_b"])] = (
            r["jaccard_hit"],
            r["contained_id"],
        )
    for tj, tc, m in cfgs:
        want = _near_dup_model(ov, tj, tc, m or len(rows))
        # a pair on each boundary
        assert any(i / (na + nb - i) == tj for i, na, nb, _ in ov.values())
        assert any(
            i * T_DEN == min(na, nb) * round(tc * T_DEN)
            for i, na, nb, _ in ov.values()
        )
        assert got[(tj, tc, m)] == want, f"t_J={tj} t_C={tc} max_df={m}"
    for tj, tc in PASS_THRESHOLDS:
        # the cut drops containment hits only, never a Jaccard hit
        cut, full = got[(tj, tc, 2)], got[(tj, tc, None)]
        assert {p for p, (j, _) in cut.items() if j} == {
            p for p, (j, _) in full.items() if j
        }
        assert {p for p, (_, c) in cut.items() if c} < {
            p for p, (_, c) in full.items() if c
        }


def test_curate_drop_set_equals_drop_rule_model(spark):
    """Curate's near-dup stage (cluster mode off) drops exactly what the
    rule says over brute-force pairs of the exact-dedup survivors: a
    Jaccard pair drops id_b, a containment-only pair its contained
    side."""
    rows = _with_planted_thresholds(_corpus(0))
    text = dict(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfgs = [(0.8, 0.6, None), (0.6, 0.8, 2)]
    frames = []
    for k, (tj, tc, m) in enumerate(cfgs):
        cfg = CurationConfig(
            use_lsh=False,
            jaccard_threshold=tj,
            containment_threshold=tc,
            containment_max_df=m,
        )
        stages = dict(_curate_stages(docs, cfg))
        for name in ("exact_dedup", "near_dedup"):
            frames.append(
                stages[name].select(
                    F.lit(k).alias("cfg"), F.lit(name).alias("stage"), "doc_id"
                )
            )
    ids = {}
    for r in reduce(lambda a, b: a.unionByName(b), frames).collect():
        ids.setdefault((r["cfg"], r["stage"]), set()).add(r["doc_id"])
    for k, (tj, tc, m) in enumerate(cfgs):
        survivors = ids[(k, "exact_dedup")]
        ov = _overlaps([(i, text[i]) for i in sorted(survivors)])
        model = _near_dup_model(ov, tj, tc, m or len(survivors))
        want = {b if j else c for (_, b), (j, c) in model.items()}
        assert want, f"config {k} drops nothing"
        assert survivors - ids[(k, "near_dedup")] == want, f"config {k}"


# The planted tf-idf triples (one per term unit): Q's four terms all
# have df 2 and tf 1, so they share one weight w, and P holds just Q's
# first term.  P's unit weight is exactly 1 (sqrt(w²) = w), and Q's is
# exactly 1/2 once the fold of four w² is exact (then sqrt(4w²) = 2w), so
# P·Q = 0.5 sits exactly on the threshold.  R gives Q's other terms df 2.
TFIDF_T = 0.5
PLANTED = (
    ("p1 p2 p3 p4", "p1", "p2 p3 p4"),
    ("q1 q2 q3 q4 q5 q6", "q1 q2 q3", "q2 q3 q4 q5 q6"),
)


def _with_planted_tfidf(base):
    """``base`` plus the planted triples and as many NULL-text docs as
    make the fold of four ln(n/2)² exact (NULL docs count in n only)."""
    import math

    rows = list(base)
    for triple in PLANTED:
        rows += [(len(rows) + k, t) for k, t in enumerate(triple, 1)]
    while True:
        w = math.log(len(rows) / 2)
        s = 0.0
        for _ in range(4):
            s += w * w
        if s == 4 * (w * w):
            return rows
        rows.append((len(rows) + 1, None))


def _tfidf_pairs(rows, ngram: int, max_df: int) -> dict:
    """All-pairs tf·idf cosine over the df-pruned vocabulary, in the
    operator's float order: ln(n/df) weights, per-doc norm and pair dot
    both folded left to right in ascending term order."""
    import math
    from collections import Counter

    vecs = {}
    for i, t in rows:
        toks = (t or "").lower().split()
        if ngram == 1:
            vecs[i] = Counter(toks)
        else:
            grams = range(len(toks) - ngram + 1)
            vecs[i] = Counter({" ".join(toks[k : k + ngram]) for k in grams})
    df = Counter(term for v in vecs.values() for term in v)
    unit = {}
    for i, v in vecs.items():
        w = {
            term: tf * math.log(len(rows) / df[term])
            for term, tf in sorted(v.items())
            if df[term] <= max_df
        }
        sq = 0.0
        for x in w.values():
            sq += x * x
        if sq > 0:
            unit[i] = {term: x / math.sqrt(sq) for term, x in w.items()}
    out = {}
    for a, b in combinations(sorted(unit), 2):
        shared = sorted(unit[a].keys() & unit[b].keys())
        dot = 0.0
        for term in shared:
            dot += unit[a][term] * unit[b][term]
        if shared and dot >= TFIDF_T:
            out[(a, b)] = (len(shared), dot)
    return out


@pytest.mark.parametrize("seed", [0, 1])
def test_tfidf_cosine_equals_brute_force(spark, seed):
    base = _corpus(seed)
    rows = _with_planted_tfidf(base)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q_id = len(base) + 1  # the first planted doc, Q
    for ngram in (1, 3):
        for max_df in (len(rows), 2):
            want = _tfidf_pairs(rows, ngram, max_df)
            planted = (q_id, q_id + 1) if ngram == 1 else (q_id + 3, q_id + 4)
            assert want[planted][1] == TFIDF_T  # the pair on the boundary
            got = {
                (r["doc_a"], r["doc_b"]): (r["n_shared"], r["cosine"])
                for r in D.tfidf_cosine_pairs(
                    docs, threshold=TFIDF_T, max_df=max_df, ngram=ngram
                ).collect()
            }
            assert got.keys() == want.keys(), f"ngram={ngram} max_df={max_df}"
            for p, (n, c) in want.items():
                assert got[p][0] == n and abs(got[p][1] - c) <= 5e-5 + 1e-12, p
