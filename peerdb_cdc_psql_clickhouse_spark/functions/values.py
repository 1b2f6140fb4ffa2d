"""Literal rows as a JVM LocalRelation (r19, guide §7/§5 driver cost).

spark.createDataFrame(list_of_rows, schema) compiles to
`Scan ExistingRDD` (applySchemaToPythonRDD): the rows are pickled into
a Python RDD and EVERY execution of the plan round-trips them through
a Python worker — r13's three seed frames alone cost ~1 s of exec per
bench run on 18 literal rows. values_frame() renders the same rows as
one parsed `VALUES ... AS t(...)` statement with an explicit CAST per
column, which Catalyst folds to a LocalTableScan: zero Python workers
at execution, identical rows and schema.

Only literal-friendly types are supported (the declared literal
frames use nothing else); anything unsupported raises so a caller
cannot silently get drifted values — fall back to createDataFrame
there.
"""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _lit(v, dt: T.DataType) -> str:
    if v is None:
        return "NULL"
    if isinstance(dt, T.StringType):
        # hex-encoded UTF-8: no escape sequence whose meaning
        # spark.sql.parser.escapedStringLiterals could change
        return f"CAST(X'{str(v).encode().hex()}' AS STRING)"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return str(int(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(f"non-finite float literal {v!r}")
        # repr is the shortest round-trip form; decimal-to-double
        # parsing is correctly rounded, so the value is bit-identical
        # to what createDataFrame would store
        return repr(f)
    if isinstance(dt, T.DecimalType):
        return "'" + str(decimal.Decimal(v)) + "'"
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.datetime):
            raise ValueError(f"datetime {v!r} in a DATE column; pass a date")
        d = v if isinstance(v, datetime.date) else datetime.date.fromisoformat(v)
        return f"DATE '{d.isoformat()}'"
    if isinstance(dt, T.TimestampType):
        t = (
            v
            if isinstance(v, datetime.datetime)
            else datetime.datetime.fromisoformat(v)
        )
        return f"TIMESTAMP '{t.isoformat(sep=' ')}'"
    if isinstance(dt, T.ArrayType):
        return (
            "array(" + ", ".join(_lit(x, dt.elementType) for x in v) + ")"
        )
    raise ValueError(f"unsupported literal type {dt!r}")


def values_frame(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """The DataFrame createDataFrame(rows, schema) builds, as a
    LocalRelation: `SELECT CAST(...) ... FROM VALUES ...`. Falls back
    to createDataFrame for empty row sets (VALUES needs >= 1 tuple).

    Same column names, types and values; the one visible difference
    is NULLABILITY metadata — a column whose literals are all
    non-null analyzes as non-nullable where createDataFrame keeps the
    schema's nullable flag. That is strictly more precise metadata
    for literal data (and invisible to the driver's pandas-level
    value/dtype comparison); callers needing the loose flag should
    keep createDataFrame."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    for f in schema.fields:
        if "`" in f.name:
            raise ValueError(f"field name may not contain a backtick: {f.name!r}")
    for r in rows:
        if len(r) != len(schema.fields):
            raise ValueError(
                f"row {r!r} has {len(r)} values for "
                f"{len(schema.fields)} schema fields"
            )
    tuples = ", ".join(
        "(" + ", ".join(_lit(v, f.dataType) for v, f in zip(r, schema.fields)) + ")"
        for r in rows
    )
    cols = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(schema.fields)
    )
    names = ", ".join(f"c{i}" for i in range(len(schema.fields)))
    return spark.sql(f"SELECT {cols} FROM VALUES {tuples} AS t({names})")
