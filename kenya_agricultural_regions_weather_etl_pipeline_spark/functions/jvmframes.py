"""JVM-pure builders for small local DataFrames (guide §4: eliminate
the Python boundary).

A PySpark-classic ``spark.createDataFrame(rows, ...)`` plans as a
``Scan ExistingRDD`` over a *Python* RDD: EVERY action that touches the
frame re-runs pickled-row deserialization through Python worker tasks.
Measured on this host (warm session, bench warmups applied): ~1.4-2.0 s
per action for an EMPTY local frame vs ~0.2 s for the same frame built
in the JVM (``spark.range`` / SQL ``VALUES``) — and the first such
action in a session pays an extra ~2-3 s of worker spin-up that the
bench's pandas-path warmup does not cover.

These builders produce bit-identical rows as pure JVM plans
(LocalRelation / empty Range), so actions never cross into Python:

- ``empty_frame(spark, ddl)``   — empty frame with the given schema;
- ``values_frame(spark, rows, ddl)`` — small literal frame via a SQL
  VALUES relation. Doubles are embedded as ``CAST('<repr>' AS DOUBLE)``:
  Python ``repr`` is shortest-round-trip and Spark's string→double cast
  is correctly rounded, so the stored double equals the Python float
  exactly (inf/nan spelled in Spark's accepted forms).

Intended for SMALL driver-known row sets (dimension seeds, p-value
grids, empty state seeds, collected result stubs) — not a bulk-load
path; ``values_frame`` asserts a sane row bound so it is never misused
for corpus-sized data.
"""
from __future__ import annotations

import math
import re
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, types as T

__all__ = ["empty_frame", "values_frame"]

_MAX_VALUES_ROWS = 20_000


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """Empty DataFrame with the DDL schema, planned entirely in the JVM
    (empty Range → typed null casts) — a drop-in for
    ``spark.createDataFrame([], ddl)`` without the Python-RDD scan."""
    schema = T._parse_datatype_string(ddl)
    exprs = [
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema.fields
    ]
    return spark.range(0).selectExpr(*exprs)


def _string_literal(s: str) -> str:
    """A SQL expression for ``s`` that reads back exactly under either
    ``spark.sql.parser.escapedStringLiterals`` setting. Quotes and
    backslashes are the only characters the two parser modes read
    differently (the default mode unescapes ``\\`` and ``''``; the
    escaped mode keeps both verbatim), so they are spliced in as
    ``chr(39)``/``chr(92)`` and never appear inside a literal."""
    if "'" not in s and "\\" not in s:
        return "'" + s + "'"
    parts = re.split(r"(['\\])", s)
    return "concat(" + ",".join(
        f"chr({ord(p)})" if p in ("'", "\\") else "'" + p + "'"
        for p in parts
        if p
    ) + ")"


def _sql_literal(v, dt: T.DataType) -> str:
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.DoubleType):
        f = float(v)
        if math.isnan(f):
            s = "NaN"
        elif math.isinf(f):
            s = "Infinity" if f > 0 else "-Infinity"
        else:
            s = repr(f)
        return f"CAST('{s}' AS DOUBLE)"
    if isinstance(dt, T.FloatType):
        return f"CAST('{float(v)!r}' AS FLOAT)"
    if isinstance(dt, T.StringType):
        return _string_literal(str(v))
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, T.DecimalType):
        return f"CAST('{v}' AS {dt.simpleString()})"
    raise TypeError(f"values_frame: unsupported literal type {dt}")


def values_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """Small literal DataFrame via a pure-JVM ``VALUES`` relation — a
    drop-in for ``spark.createDataFrame(rows, ddl)`` for driver-known
    literal rows (empty ``rows`` falls back to :func:`empty_frame`)."""
    schema = T._parse_datatype_string(ddl)
    rows = list(rows)
    if not rows:
        return empty_frame(spark, ddl)
    if len(rows) > _MAX_VALUES_ROWS:
        raise ValueError(
            f"values_frame: {len(rows)} rows — not a bulk-load path"
        )
    fields = schema.fields
    for i, r in enumerate(rows):
        if len(r) != len(fields):
            raise ValueError(
                f"values_frame: row {i} has {len(r)} values, "
                f"the schema has {len(fields)} columns"
            )
    body = ",".join(
        "("
        + ",".join(_sql_literal(v, f.dataType) for v, f in zip(r, fields))
        + ")"
        for r in rows
    )
    cols = ",".join(f"`{f.name}`" for f in fields)
    return spark.sql(f"SELECT * FROM VALUES {body} AS v({cols})")
