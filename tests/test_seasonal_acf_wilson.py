"""Seasonal strength, lag-k autocorrelation, and Wilson proportion
intervals (analytics.seasonal_strength / acf_by_group / wilson_by_group)
— hand-built frames plus independent pure-Python references."""

from __future__ import annotations

import math

import pytest

from streamkit_spark.functions.analytics import (
    acf_by_group,
    seasonal_strength,
    wilson_by_group,
)


def _daily_frame(spark, rows):
    # one row per (group, day) observation; value in money units
    return spark.createDataFrame(rows, "g string, day long, value double")


# ------------------------------------------------------- seasonal strength

def test_seasonal_strength_pure_cycle_is_one(spark):
    # value depends ONLY on day % 7 -> zero within-phase variance
    rows = [("a", d, float(10 * (d % 7 + 1))) for d in range(28)]
    got = seasonal_strength(
        _daily_frame(spark, rows), "g", "day", "value", period=7
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_days"] == 28
    assert r["ssw"] == 0.0
    assert r["strength"] == 1.0


def test_seasonal_strength_constant_series_null(spark):
    rows = [("a", d, 5.0) for d in range(14)]
    r = seasonal_strength(
        _daily_frame(spark, rows), "g", "day", "value", period=7
    ).collect()[0]
    assert r["sst"] == 0.0
    assert r["strength"] is None


def test_seasonal_strength_matches_python_anova(spark):
    vals = [3.25, 7.5, 1.0, 9.75, 2.5, 8.0, 4.25, 6.5, 0.75, 5.0, 3.5, 7.25]
    rows = [("a", d, v) for d, v in enumerate(vals)]
    r = seasonal_strength(
        _daily_frame(spark, rows), "g", "day", "value", period=3
    ).collect()[0]
    mean = sum(vals) / len(vals)
    sst = sum((v - mean) ** 2 for v in vals)
    ssw = 0.0
    for ph in range(3):
        grp = [v for d, v in enumerate(vals) if d % 3 == ph]
        m = sum(grp) / len(grp)
        ssw += sum((v - m) ** 2 for v in grp)
    assert r["sst"] == pytest.approx(sst, abs=1e-3)
    assert r["ssw"] == pytest.approx(ssw, abs=1e-3)
    assert r["strength"] == pytest.approx(max(0.0, 1 - ssw / sst), abs=1e-3)


def test_seasonal_strength_multirow_days_sum_first(spark):
    # two rows on one day sum into that day's total before the ANOVA
    rows = [("a", 0, 1.0), ("a", 0, 2.0), ("a", 1, 9.0), ("a", 2, 3.0),
            ("a", 3, 9.0), ("a", 4, 3.0), ("a", 5, 9.0)]
    base = seasonal_strength(
        _daily_frame(spark, rows), "g", "day", "value", period=2
    ).collect()[0]
    # day 0 total is 3.0 -> evens are (3, 3, 3), odds (9, 9, 9): pure cycle
    assert base["strength"] == 1.0


def test_seasonal_strength_null_rows_filtered(spark):
    rows = [("a", 0, 1.0), ("a", 1, 2.0), ("a", None, 99.0), ("a", 2, None),
            (None, 0, 7.0)]
    out = seasonal_strength(
        _daily_frame(spark, rows), "g", "day", "value", period=2
    ).collect()
    # NULL group, NULL day, and NULL value rows are all filtered
    assert len(out) == 1 and out[0]["n_days"] == 2


# ------------------------------------------------------------------- ACF

def _py_lag_pearson(series, k):
    a = series[: len(series) - k]
    b = series[k:]
    n = len(a)
    sa, sb = sum(a), sum(b)
    saa = sum(x * x for x in a)
    sbb = sum(x * x for x in b)
    sab = sum(x * y for x, y in zip(a, b))
    num = n * sab - sa * sb
    dena = n * saa - sa * sa
    denb = n * sbb - sb * sb
    if dena <= 0 or denb <= 0:
        return None
    return num / math.sqrt(dena * denb)


def test_acf_alternating_series_lag_signs(spark):
    vals = [1.0, 5.0] * 8  # period 2
    rows = [("a", d, v) for d, v in enumerate(vals)]
    got = {
        r["lag"]: r["acf"]
        for r in acf_by_group(
            _daily_frame(spark, rows), "g", "day", "value", max_lag=4
        ).collect()
    }
    assert got[1] == -1.0
    assert got[2] == 1.0
    assert got[3] == -1.0
    assert got[4] == 1.0


def test_acf_matches_python_reference(spark):
    vals = [2.25, 8.5, 1.75, 9.0, 3.5, 7.25, 0.5, 6.75, 4.0, 5.5]
    rows = [("a", d, v) for d, v in enumerate(vals)]
    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in acf_by_group(
            _daily_frame(spark, rows), "g", "day", "value", max_lag=3
        ).collect()
    }
    for k in (1, 2, 3):
        n_pairs, acf = got[k]
        assert n_pairs == len(vals) - k
        assert acf == pytest.approx(_py_lag_pearson(vals, k), abs=1e-3)


def test_acf_gap_fills_zero_on_global_span(spark):
    # group "a" observed on days 0 and 3 only; day 1, 2 become 0.0 rows,
    # and group "b" (observed day 0..4) stretches the global span to 0..4
    rows = [("a", 0, 4.0), ("a", 3, 4.0)] + [
        ("b", d, float(d + 1)) for d in range(5)
    ]
    out = acf_by_group(
        _daily_frame(spark, rows), "g", "day", "value", max_lag=1
    ).collect()
    got = {(r["g"], r["lag"]): (r["n_pairs"], r["acf"]) for r in out}
    # a's gap-filled series over the GLOBAL span 0..4: [4, 0, 0, 4, 0]
    n_pairs, acf = got[("a", 1)]
    assert n_pairs == 4
    assert acf == pytest.approx(_py_lag_pearson([4.0, 0, 0, 4.0, 0], 1), abs=1e-3)


def test_acf_constant_series_null_and_validation(spark):
    rows = [("a", d, 5.0) for d in range(6)]
    out = acf_by_group(
        _daily_frame(spark, rows), "g", "day", "value", max_lag=2
    ).collect()
    assert all(r["acf"] is None for r in out)
    with pytest.raises(ValueError, match="max_lag"):
        acf_by_group(_daily_frame(spark, rows), "g", "day", "value", max_lag=0)


# ----------------------------------------------------------------- Wilson

def _py_wilson(n, s, z=1.96):
    p = s / n
    z2 = z * z
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / denom
    return center - half, center + half


def _flag_frame(spark, rows):
    return spark.createDataFrame(rows, "g string, hi boolean")


def test_wilson_matches_python_reference(spark):
    rows = [("a", True)] * 37 + [("a", False)] * 63 + [("b", True)] * 2 + [
        ("b", False)
    ] * 8
    out = {r["g"]: r for r in wilson_by_group(
        _flag_frame(spark, rows), "g", "hi"
    ).collect()}
    for g, n, s in (("a", 100, 37), ("b", 10, 2)):
        lo, hi = _py_wilson(n, s)
        r = out[g]
        assert (r["n"], r["successes"]) == (n, s)
        assert r["rate"] == pytest.approx(s / n, abs=1e-4)
        assert r["lo"] == pytest.approx(lo, abs=1e-3)
        assert r["hi"] == pytest.approx(hi, abs=1e-3)
        assert r["lo"] <= r["rate"] <= r["hi"]


def test_wilson_extreme_rates_stay_in_unit_interval(spark):
    rows = [("none", False)] * 5 + [("all", True)] * 5
    out = {r["g"]: r for r in wilson_by_group(
        _flag_frame(spark, rows), "g", "hi"
    ).collect()}
    assert out["none"]["rate"] == 0.0 and out["none"]["lo"] == 0.0
    assert out["all"]["rate"] == 1.0 and out["all"]["hi"] == 1.0
    assert 0.0 < out["none"]["hi"] < 1.0
    assert 0.0 < out["all"]["lo"] < 1.0


def test_wilson_null_rows_filtered(spark):
    rows = [("a", True), ("a", False), ("a", None), (None, True)]
    out = wilson_by_group(_flag_frame(spark, rows), "g", "hi").collect()
    assert len(out) == 1 and out[0]["n"] == 2 and out[0]["successes"] == 1


# ------------------------------------------------------------------- Holt

def _py_holt(ys, a=0.5, b=0.3):
    l, t = ys[0], 0.0
    for y in ys[1:]:
        ln = a * y + (1 - a) * (l + t)
        t = b * (ln - l) + (1 - b) * t
        l = ln
    return l, t


def test_holt_matches_python_reference(spark):
    from streamkit_spark.functions.analytics import holt_smooth

    ys = [10.0, 20.0, 15.0, 30.0, 12.5, 40.0]
    rows = [("a", d, v) for d, v in enumerate(ys)]
    r = holt_smooth(
        _daily_frame(spark, rows), "g", "day", "value"
    ).collect()[0]
    l, t = _py_holt(ys)
    assert r["n_days"] == 6
    assert r["level"] == pytest.approx(l, abs=1e-4)
    assert r["trend"] == pytest.approx(t, abs=1e-4)
    assert r["forecast"] == pytest.approx(l + t, abs=1e-4)


def test_holt_linear_series_tracks_slope(spark):
    from streamkit_spark.functions.analytics import holt_smooth

    rows = [("a", d, float(5 * d)) for d in range(40)]
    r = holt_smooth(
        _daily_frame(spark, rows), "g", "day", "value"
    ).collect()[0]
    # on a long linear ramp the trend converges to the true slope
    assert r["trend"] == pytest.approx(5.0, abs=0.2)
    assert r["forecast"] == pytest.approx(5.0 * 40, abs=2.0)


def test_holt_single_day_and_gap_fill(spark):
    from streamkit_spark.functions.analytics import holt_smooth

    # group "b" observed on day 0 and 2 only; global span 0..2 makes
    # its series [7, 0, 7]; group "a" has a single day -> fold = init
    rows = [("a", 1, 3.0), ("b", 0, 7.0), ("b", 2, 7.0)]
    out = {r["g"]: r for r in holt_smooth(
        _daily_frame(spark, rows), "g", "day", "value"
    ).collect()}
    la, ta = _py_holt([0.0, 3.0, 0.0])  # a gap-fills on the global span
    assert out["a"]["level"] == pytest.approx(la, abs=1e-4)
    lb, tb = _py_holt([7.0, 0.0, 7.0])
    assert out["b"]["level"] == pytest.approx(lb, abs=1e-4)
    assert out["b"]["trend"] == pytest.approx(tb, abs=1e-4)


def test_holt_streaming_finisher_delegates(spark):
    from streamkit_spark.functions.analytics import (
        daily_totals,
        holt_from_daily,
        holt_smooth,
    )

    rows = [("a", d, float(d * d)) for d in range(8)]
    df = _daily_frame(spark, rows)
    want = {tuple(r) for r in holt_smooth(df, "g", "day", "value").collect()}
    got = {
        tuple(r)
        for r in holt_from_daily(
            daily_totals(df, "g", "day", "value"), "g"
        ).collect()
    }
    assert got == want
