"""Single-partition literal DataFrames built JVM-side.

``spark.createDataFrame(rows)`` routes tiny literal results through a
pickled Python RDD spread over ``defaultParallelism`` slices. That has
two costs measured in r12 on local[32] (and the same shape on a
cluster, where the slices become scheduler-visible tasks):

- every action over the frame schedules one micro-task per slice, and a
  downstream ``coalesce(1)`` is far worse: the single coalesced task
  walks ALL parent slices sequentially, each a Python-worker
  round-trip — measured ~5s per action on an OTHERWISE-EMPTY one-row
  frame (32 slices x ~150ms), which dominated every gate query that
  returned such a frame;
- a crossJoin of two such frames becomes an n*m-task cartesian stage
  (the r10 incident that introduced the ``coalesce(1)`` this module
  replaces).

``literal_frame`` instead builds the rows as a Catalyst literal:
``spark.range(0, 1, 1, 1)`` (ONE partition, JVM-native) projected
through ``inline(array(struct(...), ...))``. No Python worker is ever
consulted, the plan is a 1-partition local scan, and both hazards above
disappear. Use it for small frames of plain literals (bool/int/float/
str/bytes/None, each checked against its field's type). For rows carrying
exotic types (Decimal, nested arrays) keep ``spark.createDataFrame`` but
pass ``sc.parallelize(rows, 1)`` so the frame is at least single-sliced.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _holds(dt: T.DataType, v) -> bool:
    """Whether a field of type ``dt`` holds the Python value ``v`` exactly."""
    if v is None:
        return True
    if isinstance(dt, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(v, bool):
        return False
    if isinstance(dt, T.IntegralType):
        half = 1 << (_INT_BITS[type(dt)] - 1)
        return isinstance(v, int) and -half <= v < half
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return isinstance(v, (int, float))
    if isinstance(dt, T.BinaryType):
        return isinstance(v, (bytes, bytearray))
    return isinstance(dt, T.StringType) and isinstance(v, str)


def literal_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """A single-partition DataFrame of literal ``rows`` with the DDL
    ``schema`` — JVM-side (no Python-RDD slices; see module docstring).

    Each value is cast to its schema type, so it must be one the field
    holds exactly: ``bool`` for boolean, a non-bool ``int`` in range for
    integral fields, ``int``/``float`` for float/double, ``str`` for
    string, ``bytes`` for binary, and ``None`` anywhere. Anything else
    raises ``TypeError`` rather than truncating (``1.5`` into bigint) or
    turning into NULL (``"abc"`` into bigint). A row whose length differs
    from the schema's raises ``ValueError``."""
    st = T.StructType.fromDDL(schema)
    rows = list(rows)
    for i, row in enumerate(rows):
        if len(row) != len(st.fields):
            raise ValueError(
                f"literal_frame row {i} has {len(row)} values; the schema "
                f"has {len(st.fields)} fields ({schema})"
            )
        for v, f in zip(row, st.fields):
            if not _holds(f.dataType, v):
                raise TypeError(
                    f"literal_frame row {i}: {v!r} ({type(v).__name__}) does"
                    f" not fit field {f.name} {f.dataType.simpleString()}"
                )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    if not structs:
        return spark.createDataFrame([], st)
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))
