"""detector_agreement + cluster_modularity: hand-computed pins.

Magnitude pins (the AD/chi2/Burrows discipline): modularity is checked
against the textbook fixed points — Q = 0 EXACTLY for the whole-graph
partition, and the two-triangles-with-a-bridge value 35/196 per
community — not just engine==oracle equality.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_detector_agreement_hand_counts(spark):
    from streamkit_spark.functions.dedup import detector_agreement

    a = _pairs(spark, [(1, 2), (2, 3)])
    b = _pairs(spark, [(2, 1), (4, 5)])  # unnormalized on purpose
    c = _pairs(spark, []).filter("id_a > 0")  # empty detector
    out = {
        (r["det_a"], r["det_b"]): r
        for r in detector_agreement({"a": a, "b": b, "c": c}).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["n_both"]) == (2, 2, 1)
    assert ab["agreement"] == round(1 / 3, 4)
    # empty detector: agreement 0.0 against non-empty, NULL vs empty
    assert out[("a", "c")]["agreement"] == 0.0
    assert out[("b", "c")]["agreement"] == 0.0


def test_detector_agreement_duplicate_rows_counted_once(spark):
    from streamkit_spark.functions.dedup import detector_agreement

    a = _pairs(spark, [(1, 2), (2, 1), (1, 2)])  # one pair, three rows
    b = _pairs(spark, [(1, 2)])
    r = detector_agreement({"a": a, "b": b}).collect()[0]
    assert (r["n_a"], r["n_b"], r["n_both"], r["agreement"]) == (
        1, 1, 1, 1.0,
    )


def test_detector_agreement_two_empty_detectors_keep_their_row(spark):
    """The spine is literal: two empty detectors still give their row,
    with zero counts and NULL agreement."""
    from streamkit_spark.functions.dedup import detector_agreement

    rows = detector_agreement(
        {"x": _pairs(spark, []), "y": _pairs(spark, [])}
    ).collect()
    assert [tuple(r) for r in rows] == [("x", "y", 0, 0, 0, None)]


def test_detector_agreement_needs_two(spark):
    from streamkit_spark.functions.dedup import detector_agreement

    with pytest.raises(ValueError):
        detector_agreement({"only": _pairs(spark, [(1, 2)])})


def _modularity(spark, edges, assign_rows):
    from streamkit_spark.functions.similarity import cluster_modularity

    e = spark.createDataFrame(edges, "id_a long, id_b long")
    a = spark.createDataFrame(
        assign_rows, "doc_id long, cluster_id long"
    )
    return {
        r["cluster_id"]: r for r in cluster_modularity(e, a).collect()
    }


_TRIANGLES = [
    (1, 2), (2, 3), (1, 3),      # community A
    (4, 5), (5, 6), (4, 6),      # community B
    (3, 4),                      # bridge
]


def test_modularity_two_triangles_textbook_value(spark):
    out = _modularity(
        spark,
        _TRIANGLES,
        [(i, 1) for i in (1, 2, 3)] + [(i, 4) for i in (4, 5, 6)],
    )
    # m=7, each community: e_c=3, D_c=7 -> Q_c = (4*7*3 - 49)/(4*49)
    expect = round((4 * 7 * 3 - 49) / (4 * 49), 4)
    assert out[1]["contribution"] == expect == 0.1786
    assert out[4]["contribution"] == expect
    assert out[1]["n_nodes"] == 3 and out[1]["d_sum"] == 7
    assert out[1]["intra_edges"] == 3


def test_modularity_whole_graph_partition_is_exactly_zero(spark):
    """Textbook fixed point: one cluster holding every node has
    Q = m/m - (2m/2m)^2 = 0 EXACTLY."""
    out = _modularity(spark, _TRIANGLES, [(i, 1) for i in range(1, 7)])
    assert list(out) == [1]
    assert out[1]["contribution"] == 0.0
    assert out[1]["intra_edges"] == 7 and out[1]["d_sum"] == 14


def test_modularity_unassigned_nodes_are_singletons(spark):
    out = _modularity(
        spark,
        _TRIANGLES + [(6, 7)],
        [(i, 1) for i in (1, 2, 3)] + [(i, 4) for i in (4, 5, 6)],
    )
    # node 7 absent from assign -> its own cluster, zero intra edges,
    # contribution (0 - 1)/(4*64)
    assert out[7]["n_nodes"] == 1 and out[7]["d_sum"] == 1
    assert out[7]["intra_edges"] == 0
    assert out[7]["contribution"] == round(-1 / (4 * 64), 4)


def test_modularity_duplicate_and_reversed_edges_dedup(spark):
    a = _modularity(spark, _TRIANGLES, [(i, 1) for i in range(1, 7)])
    b = _modularity(
        spark,
        _TRIANGLES + [(b_, a_) for a_, b_ in _TRIANGLES],
        [(i, 1) for i in range(1, 7)],
    )
    assert a[1]["intra_edges"] == b[1]["intra_edges"] == 7
    assert a[1]["contribution"] == b[1]["contribution"]
