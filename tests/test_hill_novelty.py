"""Hill tail-index (value-cell sketch report #10) + daily user-novelty
profile: hand-computed fixed points, degenerate edges, and a Pareto
sanity band."""

from __future__ import annotations

import math

from streamkit_spark.functions.analytics import (
    hill_from_cells,
    hill_tail_by_group,
    user_novelty,
)


def _vals(spark, values, grp="a"):
    return spark.createDataFrame(
        [(grp, float(v)) for v in values], "g string, v double"
    )


def test_hill_hand_computed_powers_of_two(spark):
    # k=2, values desc [4, 2, 1]: u = 3rd largest = 1,
    # S = ln(2/1) + ln(4/1) folded ascending, alpha = 2/S
    df = _vals(spark, [4, 2, 1])
    row = hill_tail_by_group(df, "g", "v", k=2).collect()[0]
    assert row["n"] == 3
    assert row["k"] == 2
    assert row["threshold"] == 1.0
    want = 2.0 / (math.log(2.0) + math.log(4.0))
    assert row["alpha"] == round(want, 4)


def test_hill_ties_inside_topk_are_tie_safe(spark):
    # two copies of the top value: the cell fold must weight by count,
    # identical to enumerating rows
    df = _vals(spark, [4, 4, 2, 1, 1])
    row = hill_tail_by_group(df, "g", "v", k=3).collect()[0]
    # u = 4th largest = 1; top-3 = [4, 4, 2]
    assert row["threshold"] == 1.0
    want = 3.0 / (math.log(2.0) + 2 * math.log(4.0))
    assert row["alpha"] == round(want, 4)


def test_hill_degenerate_tail_is_null(spark):
    # the entire top-(k+1) ties at one value: threshold = that value,
    # no terms above it, alpha NULL (not a power law)
    df = _vals(spark, [5] * 10)
    row = hill_tail_by_group(df, "g", "v", k=2).collect()[0]
    assert row["threshold"] == 5.0 and row["alpha"] is None


def test_hill_insufficient_positive_values_is_null(spark):
    # fewer than k+1 positive values: no (k+1)-th order statistic
    df = _vals(spark, [7, 3, -1, 0])
    row = hill_tail_by_group(df, "g", "v", k=3).collect()[0]
    assert row["n"] == 2  # only positives count
    assert row["threshold"] is None and row["alpha"] is None


def test_hill_pareto_sanity_band(spark):
    # deterministic Pareto(alpha=2) quantile sample: x_i = (n/i)^(1/2);
    # the Hill estimate at k=100 must land near 2
    n = 500
    xs = [(n / i) ** 0.5 for i in range(1, n + 1)]
    row = hill_tail_by_group(_vals(spark, xs), "g", "v", k=100).collect()[0]
    assert row["alpha"] is not None
    assert 1.5 <= row["alpha"] <= 2.6


def test_hill_from_cells_prebuilt_and_groups_independent(spark):
    cells = spark.createDataFrame(
        [("a", 4.0, 1), ("a", 2.0, 1), ("a", 1.0, 1), ("b", 9.0, 5)],
        "grp string, v double, c long",
    )
    rows = {r["grp"]: r for r in hill_from_cells(cells, "grp", k=2).collect()}
    assert rows["a"]["alpha"] is not None
    # group b: 5 tied copies -> threshold 9, degenerate tail
    assert rows["b"]["threshold"] == 9.0 and rows["b"]["alpha"] is None


def test_user_novelty_hand_computed(spark):
    df = spark.createDataFrame(
        [("A", 1), ("B", 1), ("A", 2), ("C", 2), ("C", 4)],
        "u string, day long",
    )
    rows = {r["day"]: r for r in user_novelty(df, "u", "day").collect()}
    assert set(rows) == {1, 2, 4}
    assert (
        rows[1]["n_active"],
        rows[1]["n_new"],
        rows[1]["n_returning"],
        rows[1]["cum_users"],
    ) == (2, 2, 0, 2)
    assert (
        rows[2]["n_active"],
        rows[2]["n_new"],
        rows[2]["n_returning"],
        rows[2]["cum_users"],
    ) == (2, 1, 1, 3)
    # C's first day is 2, so day 4 is purely returning traffic
    assert (
        rows[4]["n_active"],
        rows[4]["n_new"],
        rows[4]["n_returning"],
        rows[4]["cum_users"],
    ) == (1, 0, 1, 3)


def test_user_novelty_null_rows_dropped_and_duplicates_collapse(spark):
    df = spark.createDataFrame(
        [("A", 1), ("A", 1), (None, 1), ("B", None), ("B", 3)],
        "u string, day long",
    )
    rows = {r["day"]: r for r in user_novelty(df, "u", "day").collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_active"] == 1 and rows[1]["n_new"] == 1
    assert rows[3]["cum_users"] == 2
