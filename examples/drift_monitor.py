"""Corpus-drift monitor — the "did my training-data mixture move?"
page, every report served by ONE of three shared sketches plus the
classifier-gate table:

token-cell sketch (text.token_cells, batch or streaming):
    1. KL from corpus     (kl_from_cells: which source drifted from
                           the mixture it feeds?)
    2. JSD matrix         (jsd_from_cells: which source PAIRS diverge
                           by probability mass?)
    3. Kendall matrix     (kendall_profile_from_cells: do they still
                           RANK the vocabulary the same way?)
    4. RBO matrix         (rbo_from_cells: do they agree on what
                           matters MOST — top-weighted)
    5. OOV rates          (oov_from_cells: does the head vocabulary
                           still cover every source?)

embedding moments (similarity.embedding_drift):
    6. diagonal-Fréchet matrix (did a label's REPRESENTATION
                           distribution move — mean or spread?)

calibration sketch (analytics.calibration_cells, batch or streaming):
    7. ECE / MCE          (ece_from_cells: do the classifier's scores
                           still mean what they say?)
    8. Brier decomposition (brier_from_cells: miscalibrated, or just
                           uninformative?)
    9. Cohen's kappa      (cohen_kappa: do the rule gate and the
                           classifier gate still agree beyond chance?)

Each sketch is a monotone count/sum aggregate, so the same builder
run on a streaming DataFrame maintains the table live and the
identical finishers read it — see test_batch_stream_parity for the
pinned equivalences.  Run:

    python examples/drift_monitor.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from streamkit_spark import tables  # noqa: E402
from streamkit_spark.functions.analytics import (  # noqa: E402
    brier_from_cells,
    calibration_cells,
    cohen_kappa,
    ece_from_cells,
)
from streamkit_spark.functions.curation import (  # noqa: E402
    classifier_gate_table,
)
from streamkit_spark.functions.similarity import embedding_drift  # noqa: E402
from streamkit_spark.functions.text import (  # noqa: E402
    jsd_from_cells,
    kendall_profile_from_cells,
    kl_from_cells,
    oov_from_cells,
    rbo_from_cells,
    token_cells,
)
from streamkit_spark.session import get_spark  # noqa: E402


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="drift_monitor")
    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")

    # ONE token-cell sketch, five drift reports
    cells = token_cells(docs).localCheckpoint()
    print("== source drift from the corpus mixture (KL, nats) ==")
    kl_from_cells(cells).orderBy(F.col("kl").desc()).show(5, truncate=False)
    print("== most-diverged source pairs (JSD) ==")
    jsd_from_cells(cells).orderBy(F.col("jsd").desc()).show(5, truncate=False)
    print("== vocabulary-ordering agreement (Kendall tau-b) ==")
    kendall_profile_from_cells(cells).orderBy("tau").show(5, truncate=False)
    print("== head-ranking agreement (RBO@20) ==")
    rbo_from_cells(cells).orderBy("rbo").show(5, truncate=False)
    print("== head-vocabulary coverage (OOV rate) ==")
    oov_from_cells(cells).orderBy(F.col("oov_rate").desc()).show(
        5, truncate=False
    )

    # embedding-space drift between label populations
    print("== embedding drift (diagonal Fréchet) ==")
    embedding_drift(emb).orderBy(F.col("dist").desc()).show(
        5, truncate=False
    )

    # the shared classifier-gate table + ONE calibration sketch
    gated = classifier_gate_table(docs, bias=0.1).localCheckpoint()
    cal = calibration_cells(
        gated.select((F.col("score") + F.lit(0.5)).alias("prob"), "passes"),
        "prob",
        "passes",
    ).localCheckpoint()
    print("== calibration drift (ECE / MCE) ==")
    ece_from_cells(cal).show(truncate=False)
    print("== Brier decomposition (REL / RES / UNC) ==")
    brier_from_cells(cal).show(truncate=False)
    print("== gate agreement (Cohen's kappa) ==")
    cohen_kappa(
        gated.select(
            (F.col("score") >= F.lit(0.1)).alias("clf_keep"), "passes"
        ),
        "clf_keep",
        "passes",
    ).show(truncate=False)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
