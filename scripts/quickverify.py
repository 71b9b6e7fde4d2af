"""Quick oracle check for named queries: Spark vs DuckDB at sf0.01.

Usage: python scripts/quickverify.py x53_gopher_rules [more names...]
Exit 0 iff every named query matches rows+schema+values exactly.
"""
from __future__ import annotations

import math
import os as _os
import sys

sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import duckdb
import pandas as pd  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from kenya_agricultural_regions_weather_etl_pipeline_spark.session import (  # noqa: E402
    get_spark,
)

SF = _os.environ.get("QUICKVERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


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
    names = sys.argv[1:]
    spark = get_spark("quickverify")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = E.oracle_sql()
    rc = 0
    for name in names:
        sdf = E.queries()[name](spark, SF).toPandas()
        odf = con.execute(oracles[name]).fetchdf()
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            rc = 1
            continue
        # None-safe sort key: (is_none, value) per cell so NULLs order
        # before values instead of raising TypeError on mixed columns.
        def sort_key(row):
            return tuple((v is None, v) for v in row)

        srows = sorted(
            (
                tuple(norm(v) for v in row)
                for row in sdf[scols].itertuples(index=False, name=None)
            ),
            key=sort_key,
        )
        orows = sorted(
            (
                tuple(norm(v) for v in row)
                for row in odf[scols].itertuples(index=False, name=None)
            ),
            key=sort_key,
        )
        if len(srows) != len(orows):
            print(f"FAIL {name}: {len(srows)} vs {len(orows)} rows")
            rc = 1
        elif srows != orows:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
            )
            print(f"FAIL {name}: first diff at row {bad[0]}:\n  spark  {bad[1]}\n  oracle {bad[2]}")
            rc = 1
        else:
            print(f"OK   {name}: {len(srows)} rows, {len(scols)} cols exact")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
