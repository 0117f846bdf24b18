"""Segment-distribution monitor — the "is this segment different, and
how?" page, every report served by ONE of three shared sketches:

value-cell sketch (analytics.value_cells, batch or streaming):
    1. Mann-Whitney z     (ranksum_by_group: is the segment SHIFTED?)
    2. KS distance        (ks_by_group: is its SHAPE different?)
    3. Anderson-Darling   (ad_by_group: including the TAILS?)
    4. Cliff's delta      (cliffs_delta_by_group: how OFTEN does it
                           dominate — the effect size)
    5. Gini + Theil       (gini_by_group / theil_by_group: how
                           CONCENTRATED is the value mass?)
    6. winsorized means   (winsorized_stats: robust location)

contingency sketch (analytics.contingency_cells, batch or streaming):
    7. chi2 + Cramér's V  (cramers_v: is type × weekday associated,
                           and how strongly?)
    8. mutual information (mutual_information: in nats / normalized)

daily sketch (analytics.daily_totals, batch or streaming):
    9. weekday-adjusted anomalies (weekday_adjusted_outliers: which
                           days were unusual AFTER the weekly rhythm?)

Each sketch is a monotone count/sum aggregate, so the same builder
run on a streaming DataFrame maintains the table live and the
identical finishers read it — see test_batch_stream_parity for the
pinned equivalences.  Run:

    python examples/distribution_monitor.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from streamkit_spark import tables  # noqa: E402
from streamkit_spark.functions.analytics import (  # noqa: E402
    ad_from_cells,
    cliffs_from_cells,
    contingency_cells,
    cramers_from_cells,
    gini_from_cells,
    ks_from_cells,
    mi_from_cells,
    ranksum_from_cells,
    theil_from_cells,
    value_cells,
    weekday_adjusted_outliers,
    winsorized_from_cells,
)
from streamkit_spark.session import get_spark  # noqa: E402


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="distribution_monitor")
    ev = tables.load(spark, sf_dir, "events")

    # ONE value-cell sketch, seven reports
    cells = value_cells(ev, "event_type", "value").localCheckpoint()
    print("== shift (Mann-Whitney z) ==")
    ranksum_from_cells(cells, "event_type").show(truncate=False)
    print("== shape drift (KS) ==")
    ks_from_cells(cells, "event_type").show(truncate=False)
    print("== tails included (Anderson-Darling A2) ==")
    ad_from_cells(cells, "event_type").show(truncate=False)
    print("== effect size (Cliff's delta) ==")
    cliffs_from_cells(cells, "event_type").show(truncate=False)
    print("== concentration (Gini / Theil) ==")
    gini_from_cells(cells, "event_type").show(truncate=False)
    theil_from_cells(cells, "event_type").show(truncate=False)
    print("== robust location (winsorized) ==")
    winsorized_from_cells(cells, "event_type").show(truncate=False)

    # ONE contingency sketch, two association reports
    wd = ((F.expr("ts div 86400000000000") + 4) % 7).cast("long")
    ctab = contingency_cells(
        ev.select("event_type", wd.alias("weekday")), "event_type", "weekday"
    ).localCheckpoint()
    print("== categorical association (chi2 + Cramér's V) ==")
    cramers_from_cells(ctab).show(truncate=False)
    print("== mutual information ==")
    mi_from_cells(ctab).show(truncate=False)

    # daily sketch: seasonality-corrected anomalies
    print("== weekday-adjusted anomalous days ==")
    weekday_adjusted_outliers(
        ev.select(
            "event_type", F.expr("ts div 86400000000000").alias("day"), "value"
        ),
        "event_type",
        "day",
        "value",
    ).show(50, truncate=False)

    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tables.DEFAULT_SF_DIR)
