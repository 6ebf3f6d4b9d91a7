"""Frames built on the driver from Python rows.

``spark.createDataFrame(<list>, schema)`` plans a Python-RDD ``LogicalRDD``:
executing it runs a Spark job whose Python tasks unpickle the rows. Handing
the rows over as a ``pyarrow.Table`` gives an Arrow ``LocalRelation``
instead, which executes on the driver with no job. Both keep the given
schema, nullability included.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """A local relation of ``rows`` (tuples or ``Row``s, by position) under
    ``schema``, a DDL string or a ``StructType``. Timestamp values must be
    timezone-aware: pyarrow reads a naive ``datetime`` as UTC."""
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema
        if isinstance(schema, T.StructType)
        else T.StructType.fromDDL(schema)
    )
    target = to_arrow_schema(struct)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(target.empty_table(), struct)
    cols = [
        pa.array(col, type=field.type) for col, field in zip(zip(*rows), target)
    ]
    table = pa.Table.from_arrays(cols, schema=target)
    return spark.createDataFrame(table, struct)
