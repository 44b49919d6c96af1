"""Driver rows → DataFrame, as a ``LocalRelation``.

Classic PySpark's ``createDataFrame(list, schema)`` is ``sc.parallelize``
plus a pickled round trip through Python workers: the frame plans as a
``LogicalRDD`` with no statistics, so AQE never broadcasts it and every
action over it pays a Python stage. The same rows built as a
``pyarrow.Table`` plan as a ``LocalRelation`` (``LocalTableScan``):
known size, broadcastable, no Python worker. On a ``local[4]`` session a
two-row frame ran ``.distinct().collect()`` in 0.135 s median this way
against 0.54 s through the pickled path.

Every ``createDataFrame`` in the package lives in this module.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                schema: T.StructType | str | Sequence[str]) -> DataFrame:
    """Driver rows (tuples, lists or ``Row``s) → a ``LocalRelation``
    DataFrame.

    ``schema`` is a ``StructType`` or a DDL string (``"a string, b
    long"``): the frame has exactly that schema, nullability included,
    and a NULL in a non-nullable field raises ``ValueError`` as
    ``createDataFrame``'s verifier does (Arrow itself does not check).
    A list of column names infers each column's type from its values,
    as ``createDataFrame`` does; a column with no non-NULL value is a
    string column. Empty ``rows`` give an empty frame."""
    rows = [tuple(r) for r in rows]
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names if isinstance(schema, T.StructType) \
        else list(schema)
    bad = next((r for r in rows if len(r) != len(names)), None)
    if bad is not None:
        raise ValueError(f"row {bad!r} does not have {len(names)} "
                         f"fields {names}")
    columns = [[r[i] for r in rows] for i in range(len(names))]
    if not isinstance(schema, T.StructType):
        arrays = [pa.array(c) for c in columns]
        arrays = [a.cast(pa.string()) if pa.types.is_null(a.type) else a
                  for a in arrays]
        return spark.createDataFrame(
            pa.Table.from_arrays(arrays, names=names))
    arrow = to_arrow_schema(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(columns, arrow)]
    for f, a in zip(schema.fields, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"field {f.name}: this field is not "
                             f"nullable, but got None")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow),
                                 schema)
