"""Driver-side rows → LocalRelation, without a Python-RDD scan.

`SparkSession.createDataFrame(list_of_rows)` builds a PICKLED Python
RDD split into `defaultParallelism` slices — so the first action that
touches the frame (typically a `broadcast()` of a tiny dim/panel)
launches up to 32 Python worker tasks whose only job is to unpickle a
handful of rows.  Measured on the round-13 box: ~0.25-0.35 s of task
wall per worker, ~8-20 s of task time per bench query that broadcasts
such a frame (knn_ivf's 10-row query panel, typical_day's ≤|dates|-row
assignment table), and a warm `broadcast(createDataFrame(...)).join`
costs ~0.75 s vs ~0.3 s for the same join over a VALUES relation.

`values_df` renders the rows as a SQL `VALUES` clause instead: ONE
py4j round trip, a pure-JVM `LocalRelation` in the plan, zero tasks to
broadcast (BroadcastExchange collects a LocalRelation driver-side).
Values are rendered exactly — `repr()` round-trips doubles and Spark's
literal parser is correctly rounded, so the resulting rows are
bit-identical to the createDataFrame path (locked by
tests/test_localrel.py).

Rows beyond `max_rows` fall back to `createDataFrame` unchanged: a
VALUES string is a driver-side parse whose cost grows with row count,
and a genuinely large local list is the caller's bug, not a literal.
"""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Above this, fall back to spark.createDataFrame (parse cost beats
#: the python-task saving only for bounded driver-side lists).
MAX_VALUES_ROWS = 50_000


def _sql_str(v: str) -> str:
    # UTF-8 bytes read the same under any
    # spark.sql.parser.escapedStringLiterals setting and are out of
    # reach of `${...}` variable substitution, unlike a quoted literal.
    return f"CAST(X'{v.encode().hex()}' AS STRING)"


def _sql_double(v: float) -> str:
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return repr(float(v)) + "D"


def _ck(v, py, dt) -> None:
    # strict type gate (bools are ints in Python — exclude them): a
    # mismatched value must raise, so values_df FALLS BACK to
    # createDataFrame, which raises the same loud TypeError the caller
    # would have gotten before this module existed — never a silently
    # coerced row (int(2.9) → 2, str(1) → '1')
    if not isinstance(v, py) or isinstance(v, bool) and py is not bool:
        raise TypeError(f"values_df: {v!r} is not {dt.simpleString()}")


def _lit(v, dt: T.DataType) -> str:
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.LongType):
        _ck(v, int, dt)
        return f"{int(v)}L"
    if isinstance(dt, T.IntegerType):
        _ck(v, int, dt)
        return str(int(v))
    if isinstance(dt, (T.ShortType, T.ByteType)):
        _ck(v, int, dt)
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, T.DoubleType):
        _ck(v, float, dt)
        return _sql_double(v)
    if isinstance(dt, T.FloatType):
        # python float → float32 storage rounds; CAST does the same
        # correctly-rounded narrowing
        _ck(v, float, dt)
        return f"CAST({_sql_double(v)} AS FLOAT)"
    if isinstance(dt, T.StringType):
        _ck(v, str, dt)
        return _sql_str(v)
    if isinstance(dt, T.BooleanType):
        _ck(v, bool, dt)
        return "TRUE" if v else "FALSE"
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.datetime):
            v = v.date()
        _ck(v, datetime.date, dt)
        return f"DATE '{v.isoformat()}'"
    if isinstance(dt, T.TimestampType):
        # a TIMESTAMP literal is parsed in the SESSION timezone while
        # createDataFrame interprets naive datetimes in the OS
        # timezone — not a drop-in; raise so values_df falls back to
        # createDataFrame and keeps the exact legacy semantics
        raise TypeError("values_df: non-null timestamps take the "
                        "createDataFrame fallback (tz semantics)")
    if isinstance(dt, T.DecimalType):
        # str() of these types is a plain number, never SQL text
        _ck(v, (decimal.Decimal, int, float), dt)
        if not decimal.Decimal(v).is_finite():
            raise TypeError(f"values_df: {v!r} is not a finite decimal")
        return f"CAST('{v}' AS {dt.simpleString()})"
    if isinstance(dt, T.BinaryType):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(dt, T.ArrayType):
        if len(v) == 0:
            return f"CAST(array() AS {dt.simpleString()})"
        return "array(" + ", ".join(_lit(x, dt.elementType) for x in v) + ")"
    raise TypeError(f"values_df: unsupported literal type {dt}")


def values_df(
    spark: SparkSession,
    rows,
    schema: str | T.StructType,
    max_rows: int = MAX_VALUES_ROWS,
) -> DataFrame:
    """DataFrame over driver-side `rows` with exactly `schema`, built
    as a VALUES LocalRelation (no Python-RDD scan, no tasks to
    broadcast).  Drop-in for `spark.createDataFrame(rows, schema)` for
    bounded lists of scalars/arrays; falls back to it beyond
    `max_rows` or for types the renderer doesn't cover."""
    if isinstance(schema, str):
        struct = T._parse_datatype_string(schema)
    else:
        struct = schema
    rows = list(rows)
    if len(rows) > max_rows:
        return spark.createDataFrame(rows, schema)
    names = [f.name for f in struct.fields]
    casts = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(struct.fields)
    )
    if not rows:
        return spark.sql(f"SELECT {casts} FROM (SELECT "
                         + ", ".join(f"NULL AS c{i}" for i in range(len(names)))
                         + ") WHERE 1 = 0")
    try:
        body = ", ".join(
            "("
            + ", ".join(
                _lit(row[i], f.dataType)
                for i, f in enumerate(struct.fields)
            )
            + ")"
            for row in rows
        )
    except TypeError:
        return spark.createDataFrame(rows, schema)
    alias_cols = ", ".join(f"c{i}" for i in range(len(names)))
    return spark.sql(
        f"SELECT {casts} FROM VALUES {body} AS t({alias_cols})"
    )
