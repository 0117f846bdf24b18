"""Event-stream cadence monitor — the daily-series diagnostics an
on-call team wants on one page, all fed by ONE corpus scan each:

    1. seasonal strength   (analytics.seasonal_strength: is the weekly
                            rhythm real or noise?)
    2. autocorrelation     (analytics.acf_by_group: trending vs cyclic —
                            |acf| spiking at lag 7 = weekly rhythm)
    3. co-movement matrix  (analytics.xcorr_daily: which event types
                            rise and fall together?)
    4. inter-arrival p50/p90 (analytics.interarrival_stats: cadence
                            inside each user stream — feeds session-
                            timeout and rate-limit choices)
    5. high-value share    (analytics.wilson_by_group: value > 50 rate
                            with a calibrated interval per type)

The same daily table also runs LIVE: analytics.daily_totals on a
streaming DataFrame maintains the (group, day) decimal sums as a
streaming aggregate and the identical finishers read it — see
test_batch_stream_parity for the pinned equivalence.  Run directly:

    python examples/timeseries_monitor.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from streamkit_spark import tables  # noqa: E402
from streamkit_spark.functions.analytics import (  # noqa: E402
    acf_by_group,
    holt_smooth,
    interarrival_stats,
    robust_trend,
    seasonal_strength,
    wilson_by_group,
    xcorr_daily,
)
from streamkit_spark.session import get_spark  # noqa: E402


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="timeseries_monitor")
    ev = tables.load(spark, sf_dir, "events")
    daily_in = ev.select(
        "event_type", F.expr("ts div 86400000000000").alias("day"), "value"
    )

    print("== seasonal strength (weekday ANOVA eta^2) ==")
    seasonal_strength(daily_in, "event_type", "day", "value").show(20, False)

    print("== autocorrelation, lags 1..7 (gap-filled daily series) ==")
    acf_by_group(daily_in, "event_type", "day", "value").show(40, False)

    print("== cross-type daily co-movement ==")
    xcorr_daily(daily_in, "event_type", "day", "value").show(20, False)

    print("== inter-arrival profile per type (ms) ==")
    interarrival_stats(
        ev.select(
            "event_type",
            "user_id",
            F.expr("ts div 1000000").alias("ts_ms"),
            "event_id",
        ),
        "event_type",
        "user_id",
        "ts_ms",
        order_cols=("event_id",),
    ).show(20, False)

    print("== robust trend (Mann-Kendall z + Theil-Sen slope/day) ==")
    robust_trend(daily_in, "event_type", "day", "value").show(20, False)

    print("== Holt level/trend/one-step forecast ==")
    holt_smooth(daily_in, "event_type", "day", "value").show(20, False)

    print("== high-value share with Wilson interval ==")
    wilson_by_group(
        ev.filter(F.col("value").isNotNull()).select(
            "event_type", (F.col("value") > F.lit(50)).alias("hi")
        ),
        "event_type",
        "hi",
    ).show(20, False)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
