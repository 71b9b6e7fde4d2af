"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table under a scale-factor dir.

Scale notes (100 TB): these are plain ``spark.read.parquet`` scans, so
column pruning and predicate pushdown reach the file scan for free —
callers should filter/select on the returned DataFrame *before* any
action so Catalyst can prune. At cluster scale the same loader works on
a directory of thousands of files; nothing here materializes.

``events.ts`` special case: the generator's physical parquet type for
``ts`` has changed across testdata generations — TIMESTAMP(NANOS,
isAdjustedToUTC=false) (unreadable by Spark's vectorized reader unless
``spark.sql.legacy.parquet.nanosAsLong=true`` surfaces it as int64
nanos) in one, plain TIMESTAMP(MICROS) in another.  We therefore
normalize by INSPECTION, not assumption: ``events_ts_unit`` reads the
parquet footer (driver-side, one file, no data scan) and ``load_table``
always exposes BOTH a raw ``ts_ns`` int64-nanos column and a ``ts``
TIMESTAMP_NTZ, whatever the on-disk unit.  DuckDB reads the same bytes
as a naive TIMESTAMP either way, so the oracle twin is
``epoch_ns(ts)`` / ``ts`` unchanged.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def events_ts_unit(path: str) -> str:
    """Physical time unit of ``events.ts`` ('ns' | 'us' | 'ms') read from
    the parquet footer — driver-side metadata only, no data scan.

    ``path`` is the events parquet file or a directory of part files
    (the cluster layout).  Defaults to 'us' if the footer is
    unreachable (e.g. object-store path local pyarrow can't open) —
    the unit of the current generator output.
    """
    try:
        import pyarrow.parquet as pq

        p = path
        if os.path.isdir(p):
            parts = sorted(_glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))
            if not parts:
                return "us"
            p = parts[0]
        t = pq.read_schema(p).field("ts").type
        return getattr(t, "unit", "us")
    except Exception:
        return "us"


def raw_ts_to_micros_sql(unit: str, col: str = "ts_ns") -> str:
    """SQL expr converting a raw int64 ``ts`` of ``unit`` to epoch MICROS.

    Integer ``div``/``*`` (not ``/``) avoids double-precision loss on
    1.7e18-scale nanos.
    """
    return {
        "ns": f"{col} div 1000",
        "us": f"{col}",
        "ms": f"{col} * 1000",
    }[unit]


def _events_normalize_ts(df: DataFrame, unit_if_raw: str = "ns") -> DataFrame:
    """Expose BOTH ``ts`` TIMESTAMP_NTZ and ``ts_ns`` int64-nanos,
    whatever the physical read produced.

    - bigint ``ts``: the nanosAsLong surface of TIMESTAMP(NANOS) —
      ``timestampadd`` on an NTZ base is timezone-free, so the result
      equals DuckDB's naive TIMESTAMP for the same parquet bytes
      regardless of session timezone.
    - timestamp/timestamp_ntz ``ts``: native micros read — derive the
      raw-nanos twin arithmetically (session TZ pinned UTC makes the
      NTZ→LTZ hop wall-clock-identical).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        micros = raw_ts_to_micros_sql(unit_if_raw)
        return df.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts",
            F.expr(
                f"timestampadd(MICROSECOND, {micros}, "
                "timestamp_ntz '1970-01-01 00:00:00')"
            ),
        )
    return df.withColumn(
        "ts_ns", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))


# (session, path, table) → lazy DataFrame memo (r10). Building a
# reader costs ~130 ms per call (13 runtime-conf py4j roundtrips +
# file listing + footer/schema resolution) and the bench's 367 queries
# call load_table 1-3× each — ~1 min of pure plan-construction
# overhead per bench run. A DataFrame is an immutable LAZY plan:
# handing the same object back re-resolves nothing, while every action
# on it still scans the parquet from scratch (no .cache(), no result
# reuse — this memoizes the plan object only). Values hold a strong
# session ref so a recycled id() can never alias a different live
# session; the `is` check makes the key exact.
_DF_MEMO: dict = {}


def _table_sig(path: str, name: str):
    """Stat signature for the memo key. For a parquet DIRECTORY no
    directory's own (mtime, size) changes when a same-named part file
    is rewritten in place, at any depth (a partitioned table keeps its
    part files under ``key=`` subdirectories), so the newest stat over
    every descendant is folded in: files catch an in-place rewrite,
    subdirectories catch a deleted or added part file (their mtime
    changes). Regular files keep the plain 2-tuple."""
    p = os.path.join(path, f"{name}.parquet")
    try:
        st = os.stat(p)
        if os.path.isdir(p):
            newest = max(
                (
                    os.stat(os.path.join(d, c))
                    for d, dirs, files in os.walk(p)
                    for c in dirs + files
                ),
                key=lambda s: (s.st_mtime_ns, s.st_size),
                default=st,
            )
            return (
                st.st_mtime_ns,
                st.st_size,
                newest.st_mtime_ns,
                newest.st_size,
            )
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes ``events.ts`` to TIMESTAMP_NTZ
    + raw ``ts_ns``. Memoized per (session, path, table, stat) — see
    ``_DF_MEMO``; the returned frame is a lazy plan, never cached data.
    The path's stat signature rides in the key so rewriting a table
    in place (tests do; a regenerated fixture would) yields a FRESH
    read instead of a stale file listing; the superseded entry is
    evicted on insert so the memo holds one live plan per
    (session, path, table), never a process-lifetime backlog."""
    path = os.path.realpath(sf_dir)
    sig = _table_sig(path, name)
    key = (id(spark), path, name, sig)
    hit = _DF_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _events_normalize_ts(df)
    stale = [
        k
        for k in _DF_MEMO
        if k[:3] == (id(spark), path, name) and k[3] != sig
    ]
    for k in stale:
        del _DF_MEMO[k]
    _DF_MEMO[key] = (spark, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
