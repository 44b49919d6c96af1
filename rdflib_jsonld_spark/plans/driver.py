"""Driver rows ↔ DataFrames: small results come to the driver through
one bounded collect, and driver rows go back as a ``LocalRelation``.

Classic PySpark's ``createDataFrame(list, schema)`` is ``sc.parallelize``
plus a pickled round trip through Python workers: the frame plans as a
``LogicalRDD`` with no statistics, so AQE never broadcasts it and every
action over it pays a Python stage. The same rows built as a
``pyarrow.Table`` plan as a ``LocalRelation`` (``LocalTableScan``):
known size, broadcastable, no Python worker. On a ``local[4]`` session a
two-row frame ran ``.distinct().collect()`` in 0.135 s median this way
against 0.54 s through the pickled path.

Every ``createDataFrame`` in the package lives in this module, and
every driver-side fast path (an Update delta, a seeded path closure,
connected components) decides through :func:`collect_bounded` whether
its input fits on the driver.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: the most rows :func:`collect_bounded` brings to the driver by default:
#: about where an Update delta served from the driver stops beating one
#: fold into a checkpoint (measured in SCALE.md)
DRIVER_ROWS = 5_000

#: about the most rows the first job of :func:`collect_bounded` sends:
#: 16 tasks at the default bound, more than a ``local[8]`` session's
#: shuffle or file-scan partitions
FIRST_JOB_ROWS = 16 * (DRIVER_ROWS + 1)

_INITIAL_PARTS = "spark.sql.limit.initialNumPartitions"


def collect_bounded(df: DataFrame, bound: int | None = None
                    ) -> list[Row] | None:
    """``df``'s rows, or None when it has more than ``bound`` rows
    (default :data:`DRIVER_ROWS`). One Spark job when the rows fit in
    at most ``FIRST_JOB_ROWS // (bound + 1)`` partitions.

    ``limit(n).collect()`` runs Spark's take loop: each job scans some
    partitions, each task sends up to ``n`` rows, and the driver holds
    all the results of a job before it counts them. The first job scans
    ``spark.sql.limit.initialNumPartitions`` partitions (1 by default),
    so a four-task scan whose rows all fit costs two jobs or more. Here
    that setting is raised, for the one collect, to the partitions whose
    prefixes together stay within :data:`FIRST_JOB_ROWS`, not to every
    partition: a frame over the bound then sends about that many rows,
    not ``bound + 1`` per partition. Spark scans further partitions
    (at most four times the number scanned so far) only while fewer
    than ``bound + 1`` rows have come back."""
    bound = DRIVER_ROWS if bound is None else bound
    spark = df.sparkSession
    prev = spark.conf.get(_INITIAL_PARTS)
    spark.conf.set(_INITIAL_PARTS, str(max(1, FIRST_JOB_ROWS // (bound + 1))))
    try:
        rows = df.limit(bound + 1).collect()
    finally:
        spark.conf.set(_INITIAL_PARTS, prev)
    return rows if len(rows) <= bound else None


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
