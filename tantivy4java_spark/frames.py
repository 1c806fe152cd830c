"""Job-free result frames: small driver-side tables as typed VALUES literals.

``spark.createDataFrame(rows, schema)`` lowers to a LogicalRDD, and its
``collect()`` launches a Spark job (0.4-0.6 s in local mode).  A ``VALUES``
literal is a Catalyst LocalRelation: ``collect()`` is served on the driver
with no job, and an empty one (``... WHERE 1=0``) is pruned from any plan it
is joined into (PropagateEmptyRelation).  Every result frame of the driver
fast path (search hits, field-sorted hits, aggregation buckets, empty
results) is built here.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# types a VALUES literal expresses exactly; anything else goes through
# createDataFrame (off the fast path: nested cluster aggregation results)
_SUPPORTED = ("long", "integer", "short", "byte", "double", "float",
              "decimal", "string", "boolean", "timestamp", "date")
# the single row of an empty frame: NULL for nullable fields, a typed
# stand-in for non-nullable ones, so each column keeps its nullability
_STAND_IN = {"double": 0.0, "float": 0.0, "string": "", "boolean": False,
             "timestamp": datetime.datetime(1970, 1, 1,
                                            tzinfo=datetime.timezone.utc),
             "date": datetime.date(1970, 1, 1)}


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _literal(v, t: str, sql: str) -> str:
    """``v`` as a SQL literal of Spark type ``t`` (typeName), spelled
    ``sql`` (simpleString)."""
    if v is None:
        return f"CAST(NULL AS {sql})"
    if t == "string":
        # backslash escapes are the parser's; $ keeps "${...}" in a
        # value out of SQL variable substitution
        e = (str(v).replace("\\", "\\\\").replace("'", "\\'")
             .replace("$", "\\u0024"))
        return f"'{e}'"
    if t == "boolean":
        return "true" if v else "false"
    if t in ("double", "float"):
        f = float(v)
        if math.isnan(f):
            return f"CAST('NaN' AS {sql})"
        if math.isinf(f):
            return f"CAST('{'' if f > 0 else '-'}Infinity' AS {sql})"
        return f"CAST({f!r} AS {sql})"  # repr: exact IEEE round-trip
    if t == "decimal":  # a BD literal: a cast from a string is nullable
        return f"CAST({decimal.Decimal(v):f}BD AS {sql})"
    if t == "timestamp":
        # createDataFrame's own conversion (tz-aware: the instant; naive:
        # local wall time), so both spellings hold the same instant
        return f"timestamp_micros({T.TimestampType().toInternal(v)})"
    if t == "date":
        return f"DATE '{v.isoformat()}'"
    return f"CAST({int(v)} AS {sql})"


def values_frame(spark: SparkSession, rows: Sequence[tuple],
                 schema: T.StructType) -> DataFrame:
    """``rows`` as a LocalRelation with exactly ``schema`` (names, types,
    nullability; names may repeat).  No rows gives ``VALUES (<stand-in
    row>) ... WHERE 1=0``."""
    fields = schema.fields
    types = [(f.dataType.typeName(), f.dataType.simpleString())
             for f in fields]
    if any(t not in _SUPPORTED for t, _ in types):
        return spark.createDataFrame(list(rows), schema)
    if rows:
        body, where = ", ".join(
            "(" + ", ".join(_literal(v, t, sql)
                            for v, (t, sql) in zip(r, types)) + ")"
            for r in rows), ""
    else:
        body = "(" + ", ".join(
            _literal(None if f.nullable else _STAND_IN.get(t, 0), t, sql)
            for f, (t, sql) in zip(fields, types)) + ")"
        where = " WHERE 1=0"
    # VALUES infers nullable=false for a column with no NULL in it, but
    # callers compare schemas with the cluster lowering.  element_at(map(k,
    # c), k) is value-identical and nullable (a map lookup can miss), and
    # ConvertToLocalRelation folds the projection back into the
    # LocalRelation.  (if(true, c, null) and element_at(array(c), 1) do not
    # work: Spark 4's nullability inference sees through both.)
    out = ", ".join(
        (f"element_at(map('k', c{i}), 'k')" if f.nullable else f"c{i}")
        + f" AS {_quote(f.name)}" for i, f in enumerate(fields))
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    return spark.sql(f"SELECT {out} FROM VALUES {body} AS t({cols}){where}")
