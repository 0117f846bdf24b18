"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark AND its
``oracle_sql()`` twin on DuckDB at sf0.01, canonicalizes both results the
way the driver does (columns sorted by name, rows sorted by all columns),
and compares row count, column names, and exact values.

Usage:
    python tools/verify_correctness.py [--sf-dir DIR] [--only q1,q2,...]

The session is a bare ``local[$SPARK_GRAFT_CPUS]`` (32 when unset) with
as many shuffle partitions and no engine config, like the driver's.

Exit code 0 iff every checked query matches (rows-only queries must at
least run and return a stable row count).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: columns sorted by name, rows sorted
    by all columns.  Crashes (like the driver) on unhashable cells —
    that's a feature: it catches array-typed output columns."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> dict:
    out = {
        "rows_match": len(spark_pdf) == len(oracle_pdf),
        "schema_match": sorted(spark_pdf.columns) == sorted(oracle_pdf.columns),
        "hash_match": None,
        "spark_rows": len(spark_pdf),
        "oracle_rows": len(oracle_pdf),
        "err": None,
    }
    if not (out["rows_match"] and out["schema_match"]):
        out["hash_match"] = False
        return out
    a, b = canon(spark_pdf), canon(oracle_pdf)
    try:
        mism = []
        for col in a.columns:
            av, bv = a[col].tolist(), b[col].tolist()
            for i, (x, y) in enumerate(zip(av, bv)):
                if x != y and not (pd.isna(x) and pd.isna(y)):
                    mism.append((col, i, x, y))
                    if len(mism) >= 3:
                        break
            if mism:
                break
        out["hash_match"] = not mism
        if mism:
            out["err"] = f"value mismatch {mism}"
    except Exception as e:  # unhashable / canon crash
        out["hash_match"] = False
        out["err"] = f"canon: {e!r}"
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("verify_correctness")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    report: dict[str, dict] = {}
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, args.sf_dir).toPandas()
        except Exception as e:
            report[name] = {"err": f"spark: {e}"}
            n_fail += 1
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            report[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(spark_pdf), "oracle_rows": None,
                "err": "no_oracle",
            }
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            report[name] = {"err": f"oracle: {e}"}
            n_fail += 1
            print(f"FAIL {name}: oracle error: {e}")
            continue
        res = compare(spark_pdf, oracle_pdf)
        report[name] = res
        ok = res["rows_match"] and res["schema_match"] and res["hash_match"]
        if not ok:
            n_fail += 1
        print(
            f"{'OK  ' if ok else 'FAIL'} {name}: spark={res['spark_rows']} "
            f"oracle={res['oracle_rows']} hash={res['hash_match']} "
            f"({time.time()-t0:.1f}s)"
            + (f" err={res['err']}" if res.get("err") else "")
        )
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=2, default=str))
    n_checked = len(report)
    print(f"\n{n_checked - n_fail}/{n_checked} green ({n_fail} failing)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
