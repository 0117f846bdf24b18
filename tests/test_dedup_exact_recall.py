"""Exact recall of the shingle-set detectors against a brute force.

``ngram_jaccard_pairs``, ``overlap_coefficient_pairs`` and
``containment_pairs`` run on small seeded corpora and must return exactly
the pairs (and scores) an all-pairs Python computation over the same word
3-gram sets returns.  The corpora carry near-duplicate variants, exact and
case-only duplicate texts, empty, blank and NULL text, docs shorter than
3 tokens, and planted pairs whose score sits exactly on the threshold
(3/4 and 3/5).  With a ``max_df`` cut the contract is: a qualifying pair
is found iff one of its common shingles has df ≤ max_df."""

from __future__ import annotations

import random
from itertools import combinations

import pytest

from streamkit_spark.functions import dedup as D

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
