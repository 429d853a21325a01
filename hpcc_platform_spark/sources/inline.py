"""Inline tables (TAKinlinetable :1034) — DATASET([...]) literal rows.

Python rows become ONE Spark literal. ``rows_literal`` encodes them,
directed by the declared schema, into a single JSON text and parses it
back JVM-side with ``from_json(lit(text), array<schema>)``: a constant
number of py4j calls for any row count (a ``lit(v).cast(t)`` per cell
costs ~30 calls each), and Catalyst constant-folds the result like any
other literal. ``FAILFAST`` makes a value that does not fit its declared
type raise instead of reading as NULL — the type check
``createDataFrame`` performs.

``inline_dataset`` lowers a literal table to ``range(1 partition) →
inline(rows_literal(...))``: a pure-JVM plan. ``createDataFrame`` over
local rows would build a Python-RDD scan that re-runs a Python worker
handshake per partition on every action (~0.2 s each here), and a
pair-join over two such tables multiplies that into cores² tasks
(measured 17.5 s for 28 output rows, guide §4).
"""

from __future__ import annotations

import base64
import datetime
import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _json_value(v, dt: T.DataType):
    """One value as the JSON ``from_json`` reads back into ``dt``."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        if isinstance(v, Row) and hasattr(v, "__fields__"):
            v = v.asDict()
        if isinstance(v, dict):
            vals = [v.get(f.name) for f in dt.fields]
        elif len(v) != len(dt.fields):
            raise ValueError(
                f"row has {len(v)} values for {len(dt.fields)} fields: {v!r}"
            )
        else:
            vals = v
        return {
            f.name: _json_value(x, f.dataType) for f, x in zip(dt.fields, vals)
        }
    if isinstance(dt, T.ArrayType):
        return [_json_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        raise TypeError(f"map literals are not supported: {dt.simpleString()}")
    if isinstance(dt, T.BinaryType):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(dt, T.DecimalType):
        return str(v)
    if isinstance(dt, T.TimestampType):
        # a naive datetime is local time, as createDataFrame reads it
        return (v if v.tzinfo else v.astimezone()).isoformat()
    if isinstance(dt, T.DateType) and isinstance(v, datetime.datetime):
        return v.date().isoformat()
    if isinstance(dt, (T.DateType, T.TimestampNTZType)):
        return v.isoformat()
    return v


def rows_literal(rows: Sequence, schema: T.DataType) -> Column:
    """``rows`` as ONE ``array<schema>`` literal Column. ``schema`` is
    the element type: a StructType for rows (each a tuple, Row or dict),
    or an atomic type for a set of values. NaN and ±inf pass through."""
    text = json.dumps(
        [_json_value(r, schema) for r in rows], separators=(",", ":")
    )
    return F.from_json(
        F.lit(text), T.ArrayType(schema), {"mode": "FAILFAST"}
    )


def parse_schema(schema: T.StructType | str) -> T.StructType:
    """DDL string → StructType (parsed JVM-side; no DataFrame built)."""
    if isinstance(schema, T.StructType):
        return schema
    return T._parse_datatype_string(schema)


def inline_dataset(
    spark: SparkSession,
    rows: Sequence,
    schema: T.StructType | str,
) -> DataFrame:
    """DATASET([{...}, ...], rec) with an explicit schema (never inferred —
    ECL records are always fully typed, SURVEY §1.3), lowered to one JVM
    literal plan for every shape, nested and empty included. Rows are
    type-checked here, as ``createDataFrame`` checks them, so a bad
    value raises while the query is built."""
    rows = list(rows)
    st = parse_schema(schema)
    verify = T._make_type_verifier(st)
    for r in rows:
        verify(r)
    return spark.range(0, 1, 1, 1).select(F.inline(rows_literal(rows, st)))
