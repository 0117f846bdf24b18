"""Cohen's kappa + calibration-drift family (ECE / MCE / Brier
decomposition): textbook known values, degenerate edges, the Murphy
identity, and batch==finisher delegation."""

from __future__ import annotations

from streamkit_spark.functions.analytics import (
    brier_decomposition,
    calibration_cells,
    cohen_kappa,
    contingency_cells,
    expected_calibration_error,
    kappa_from_cells,
)


def _raters(spark, cells):
    """Expand {(a, b): count} into a two-rater row DataFrame."""
    rows = [(a, b) for (a, b), n in cells.items() for _ in range(n)]
    return spark.createDataFrame(rows, "a string, b string")


def test_kappa_textbook_2x2(spark):
    # the classic worked example: po = 35/50 = 0.7,
    # pe = (25*30 + 25*20)/2500 = 0.5, kappa = 0.4
    df = _raters(
        spark,
        {("y", "y"): 20, ("y", "n"): 5, ("n", "y"): 10, ("n", "n"): 15},
    )
    row = cohen_kappa(df, "a", "b").collect()[0]
    assert row["n"] == 50
    assert row["n_rows"] == 2 and row["n_cols"] == 2
    assert row["po"] == 0.7
    assert row["pe"] == 0.5
    assert row["kappa"] == 0.4


def test_kappa_perfect_and_disagreement(spark):
    perfect = _raters(spark, {("y", "y"): 7, ("n", "n"): 3})
    assert cohen_kappa(perfect, "a", "b").collect()[0]["kappa"] == 1.0
    # systematic disagreement scores NEGATIVE (below chance)
    swapped = _raters(spark, {("y", "n"): 5, ("n", "y"): 5})
    assert cohen_kappa(swapped, "a", "b").collect()[0]["kappa"] == -1.0


def test_kappa_disjoint_domains_is_zero(spark):
    # raters never use a shared label: agree = 0 AND pe = 0 -> kappa 0
    df = _raters(spark, {("x", "y"): 10})
    row = cohen_kappa(df, "a", "b").collect()[0]
    assert row["pe"] == 0.0 and row["po"] == 0.0 and row["kappa"] == 0.0


def test_kappa_equal_constant_raters_is_null(spark):
    # both raters constant and equal: pe = 1, agreement undefined
    df = _raters(spark, {("x", "x"): 10})
    row = cohen_kappa(df, "a", "b").collect()[0]
    assert row["po"] == 1.0 and row["pe"] == 1.0
    assert row["kappa"] is None


def test_kappa_empty_input_one_null_row(spark):
    df = spark.createDataFrame([], "a string, b string")
    rows = cohen_kappa(df, "a", "b").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n"] == 0 and r["n_rows"] == 0 and r["n_cols"] == 0
    assert r["po"] is None and r["pe"] is None and r["kappa"] is None


def test_kappa_mixed_rater_types_raise_at_build(spark):
    """A string rater against a bigint one has no shared label domain: the
    plan refuses to build, naming both types, instead of failing at
    collect with a cast error.  Streaming cells meet the same check, and
    two numeric raters of different widths still compare."""
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("1", 1), ("2", 2)], "a string, b bigint")
    with pytest.raises(ValueError, match="r is string, c is bigint"):
        cohen_kappa(df, "a", "b")
    stream = spark.readStream.format("rate").load().select(
        F.col("value").cast("string").alias("a"), F.col("value").alias("b")
    )
    with pytest.raises(ValueError, match="r is string, c is bigint"):
        kappa_from_cells(contingency_cells(stream, "a", "b"))
    widths = spark.createDataFrame([(1, 1), (2, 2)], "a int, b bigint")
    assert cohen_kappa(widths, "a", "b").collect()[0]["kappa"] == 1.0


def test_kappa_from_cells_prebuilt_table(spark):
    # the finisher over a hand-built sketch equals the textbook value
    cells = spark.createDataFrame(
        [("y", "y", 20), ("y", "n", 5), ("n", "y", 10), ("n", "n", 15)],
        "r string, c string, o long",
    )
    assert kappa_from_cells(cells).collect()[0]["kappa"] == 0.4


_CAL_SCHEMA = "prob double, y boolean"

# buckets 0 / 6 / 9: acc 0 / .75 / 1, conf .05 / .65 / .95
_CAL_ROWS = (
    [(0.05, False)] * 2
    + [(0.65, True)] * 3
    + [(0.65, False)]
    + [(0.95, True)] * 4
)


def test_ece_hand_computed(spark):
    df = spark.createDataFrame(_CAL_ROWS, _CAL_SCHEMA)
    row = expected_calibration_error(df, "prob", "y", n_buckets=10).collect()[0]
    assert row["n"] == 10 and row["n_bins"] == 3
    # ece = .2*.05 + .4*.1 + .4*.05 = .07 ; mce = .1
    assert row["ece"] == 0.07
    assert row["mce"] == 0.1


def test_ece_perfectly_calibrated_is_zero(spark):
    df = spark.createDataFrame(
        [(0.5, True), (0.5, False)] * 3, _CAL_SCHEMA
    )
    row = expected_calibration_error(df, "prob", "y").collect()[0]
    assert row["ece"] == 0.0 and row["mce"] == 0.0


def test_calibration_top_edge_folds_into_last_bucket(spark):
    df = spark.createDataFrame(
        [(1.0, True), (0.95, True), (-0.2, False), (1.7, True)], _CAL_SCHEMA
    )
    cells = {r["bucket"]: r for r in calibration_cells(df, "prob", "y").collect()}
    # p = 1.0 and the clamped 1.7 both land in bucket 9; -0.2 clamps to 0
    assert set(cells) == {0, 9}
    assert cells[9]["n"] == 3 and cells[0]["n"] == 1
    # the clamp runs BEFORE quantization: psum(9) = 1.0 + .95 + 1.0
    assert float(cells[9]["psum"]) == 2.95


def test_ece_empty_input_one_null_row(spark):
    df = spark.createDataFrame([], _CAL_SCHEMA)
    rows = expected_calibration_error(df, "prob", "y").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n"] is None and r["n_bins"] == 0
    assert r["ece"] is None and r["mce"] is None


def test_brier_decomposition_hand_computed_and_murphy_identity(spark):
    df = spark.createDataFrame(_CAL_ROWS, _CAL_SCHEMA)
    row = brier_decomposition(df, "prob", "y", n_buckets=10).collect()[0]
    # python mirror on the same three bins
    bins = [(2, 0.0, 0.05), (4, 0.75, 0.65), (4, 1.0, 0.95)]
    n = sum(b[0] for b in bins)
    ybar = sum(nb * acc for nb, acc, _ in bins) / n
    rel = sum((nb / n) * (conf - acc) ** 2 for nb, acc, conf in bins)
    res = sum((nb / n) * (acc - ybar) ** 2 for nb, acc, _ in bins)
    unc = ybar * (1 - ybar)
    assert row["n"] == 10 and row["n_bins"] == 3
    assert row["ybar"] == round(ybar, 4)
    assert row["rel"] == round(rel, 4)
    assert row["res"] == round(res, 4)
    assert row["unc"] == round(unc, 4)
    # Murphy identity: with conf_b as the bin forecast, the BINNED
    # Brier score equals rel - res + unc exactly
    brier_binned = sum(
        (nb / n) * (conf * conf - 2 * conf * acc + acc)
        for nb, acc, conf in bins
    )
    assert abs((rel - res + unc) - brier_binned) < 1e-12


def test_calibration_cells_quantization_is_4dp_exact(spark):
    # a prob with >4dp is quantized by the monotone double->decimal
    # cast; sums are exact whatever the partition order
    df = spark.createDataFrame([(0.123456, True)] * 8, _CAL_SCHEMA)
    cells = calibration_cells(df.repartition(4), "prob", "y").collect()
    assert len(cells) == 1
    assert float(cells[0]["psum"]) == 0.1235 * 8


def test_gate_queries_match_each_other(spark):
    """gate_kappa / calibration_ece / calibration_brier run on the SAME
    score+label join as score_calibration — n must agree across all
    three reports."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    k = entrymod.queries()["gate_kappa"](spark, SF_DIR).collect()[0]
    e = entrymod.queries()["calibration_ece"](spark, SF_DIR).collect()[0]
    b = entrymod.queries()["calibration_brier"](spark, SF_DIR).collect()[0]
    assert k["n"] == e["n"] == b["n"] > 0
    assert 0 <= e["mce"] <= 1 and e["ece"] <= e["mce"]
    assert b["rel"] >= 0 and b["res"] >= 0 and 0 <= b["unc"] <= 0.25
