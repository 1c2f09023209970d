"""Cross-engine-deterministic expression helpers.

Floating-point aggregation order differs between Spark partitions and the
DuckDB oracle, so money-style aggregates are computed in exact DECIMAL and
only converted to DOUBLE at the end. The same formulas appear verbatim in
oracle SQL strings (see registry docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def local_values(spark, rows, schema: str):
    """Literal DataFrame as a zero-task VALUES LocalRelation.

    ``spark.createDataFrame(list, ...)`` parallelizes the rows into
    defaultParallelism RDD slices, so EVERY job that consumes the frame
    (it is an ExistingRDD scan, never constant-folded) runs a
    32-task stage whose tasks each pay a fixed per-slice round trip —
    measured ~0.5 s per consuming job at local[32] for a 22-row list
    (r17 profile: the two heaviest bm25 stages were these ghost scans).
    A SQL VALUES clause is a LocalRelation: evaluated driver-side, zero
    tasks, broadcast- and fold-friendly. ``schema`` is the familiar
    "name type, name type" string of unparameterized types; every column
    is cast to the declared type so inferred literal types (INT for small
    ints) never leak. Empty ``rows`` give the typed, empty LocalRelation
    of a one-NULL-row VALUES under ``WHERE false`` (VALUES itself cannot
    be empty).

    String literals are escaped for the default
    ``spark.sql.parser.escapedStringLiterals=false`` (backslash escapes
    are interpreted). Raises ``ValueError`` for a non-finite float (no SQL
    literal) and for a parameterized type such as ``decimal(10,2)`` or
    ``array<string>`` (the comma-split schema cannot carry it).
    """

    def _lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, float):
            if not math.isfinite(v):
                raise ValueError(f"local_values: non-finite float {v!r} has no SQL literal")
            return repr(v) + "D"
        return str(v)

    fields = [f.strip().rsplit(None, 1) for f in schema.split(",")]
    for f in fields:
        if len(f) != 2 or not f[1].isidentifier():
            raise ValueError(f"local_values: unsupported schema field {' '.join(f)!r} in {schema!r}")
    names = [n for n, _ in fields]
    where = ""
    if not rows:
        rows, where = [(None,) * len(fields)], " WHERE false"
    vals = ", ".join(
        "(" + ", ".join(_lit(v) for v in row) + ")" for row in rows
    )
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in fields)
    return spark.sql(
        f"SELECT {casts} FROM (VALUES {vals}) AS t({', '.join(names)}){where}"
    )


def dsum(col: str | Column, alias: str) -> Column:
    """Exact decimal sum of a double column, surfaced as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Order-independent average: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(c)).alias(alias)


def revenue() -> Column:
    """TPC-H revenue term l_extendedprice * (1 - l_discount), decimal-exact."""
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


#: SQL fragments for oracle parity (DuckDB side of dsum/davg/revenue).
SQL_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(18,4))) AS DOUBLE)"
SQL_DAVG = "CAST(SUM(CAST({x} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({x})"
SQL_REVENUE = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))"
