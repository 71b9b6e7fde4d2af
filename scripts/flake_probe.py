"""Order-sensitivity (knife-edge) probe: run oracle-paired queries with
an unusual shuffle-partition count so double folds re-associate
differently from the default session, then compare to the DuckDB oracle
exactly like quickverify. Any FAIL here is a value that sits within
ulps of its rounding boundary — a latent flake in the driver's
correctness gate (the src8 class fixed in e2e_corpus_clean: a raw
double avg whose 6dp digit flipped with fold order). Fix pattern:
quantize per-row to integer micro-units, sum exactly, divide once.

Usage: python scripts/flake_probe.py [name ...]   (default: all paired)
The scale-factor dir is quickverify's (QUICKVERIFY_SF_DIR).
"""
from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from kenya_agricultural_regions_weather_etl_pipeline_spark.session import (  # noqa: E402
    get_spark,
)
from quickverify import SF  # noqa: E402  (QUICKVERIFY_SF_DIR)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
PERTURBED_PARTITIONS = "7"


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    # pandas NaT (null timestamps from BOTH engines) is not equal to
    # itself — normalize to None or every null-timestamp row spuriously
    # mismatches (j1_asof_join burned an hour on this)
    if v is pd.NaT:
        return None
    return v


def main() -> int:
    spark = get_spark("flakeprobe")
    spark.conf.set("spark.sql.shuffle.partitions", PERTURBED_PARTITIONS)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = E.oracle_sql()
    names = sys.argv[1:] or [n for n in E.queries() if n in oracles]
    rc = 0
    for name in names:
        try:
            sdf = E.queries()[name](spark, SF).toPandas()
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            print(f"ERR  {name}: {type(ex).__name__} {str(ex)[:160]}")
            rc = 1
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            rc = 1
            continue

        def key(row):
            return tuple((v is None, v) for v in row)

        srows = sorted(
            (
                tuple(norm(v) for v in r)
                for r in sdf[scols].itertuples(index=False, name=None)
            ),
            key=key,
        )
        orows = sorted(
            (
                tuple(norm(v) for v in r)
                for r in odf[ocols].itertuples(index=False, name=None)
            ),
            key=key,
        )
        if srows != orows:
            diffs = [
                i for i, (a, b) in enumerate(zip(srows, orows)) if a != b
            ][:3]
            print(f"FAIL {name}: first diffs at {diffs}")
            for i in diffs:
                print("  S:", srows[i])
                print("  O:", orows[i])
            rc = 1
        else:
            print(f"OK   {name}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
