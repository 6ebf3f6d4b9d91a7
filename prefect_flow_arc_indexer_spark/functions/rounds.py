"""One round primitive for iterative builders over a small vector frame.

k-means, PCA power iteration and the k-center coreset each run a fixed
number of rounds; every round maps the same input through an Arrow kernel
and reduces the per-task partials on the driver. :func:`arrow_rounds`
decides once per frame where those rounds run:

- **driver placement** when the optimized plan's size estimate is at most
  ``spark.sql.autoBroadcastJoinThreshold``, the bound Spark already uses
  to ship a relation to the driver and broadcast it. The frame is
  collected once with ``toArrow()`` and every round calls the kernel on
  its record batches in this process: one Spark job for all rounds.
- **distributed placement** otherwise. The frame is persisted (fanned out
  to the session's shuffle width first when it has fewer partitions) and
  each round is one ``mapInArrow(kernel).toArrow()`` job returning the
  per-task partials: one stage, no shuffle. The cache is released on exit.

The kernels' reductions are integer sums or total-order argmaxes, so the
placement, the partition count and the batch split cannot change a result.
A threshold of ``-1`` forces the distributed placement. Raising the
threshold for joins also raises the size of frame these builders collect.

k-means and PCA run every round through :func:`arrow_rounds`; the k-center
coreset does only when :func:`fits_driver` holds, and otherwise keeps its
JVM fold (``curation._kcenter_fold_rounds``), which beats a Python job per
round there.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, types as T


def _arrow_schema(ddl: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(T.StructType.fromDDL(ddl))


def fits_driver(frame: DataFrame) -> bool:
    """True when ``frame``'s optimized-plan size estimate is within the
    session's broadcast threshold. Reads plan statistics only: no job."""
    qe = frame._jdf.queryExecution()
    size = int(str(qe.optimizedPlan().stats().sizeInBytes()))
    limit = frame.sparkSession._jsparkSession.sessionState().conf()
    return size <= limit.autoBroadcastJoinThreshold()


@contextmanager
def arrow_rounds(
    frame: DataFrame,
) -> Iterator[Callable[[Callable, str], pa.Table]]:
    """Yield ``run(kernel, schema)``: one round of the ``mapInArrow``
    kernel ``kernel`` over ``frame``, returning every partial batch it
    yields as one ``pyarrow.Table`` of the DDL ``schema``."""
    if fits_driver(frame):
        batches = frame.toArrow().to_batches()

        def run(kernel, schema: str) -> pa.Table:
            out, target = list(kernel(iter(batches))), _arrow_schema(schema)
            if not out:
                return target.empty_table()
            return pa.Table.from_batches(out).cast(target)

        yield run
        return
    width = int(frame.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if frame.rdd.getNumPartitions() < width:
        frame = frame.repartition(width)
    cached = frame.persist()
    try:
        yield lambda kernel, schema: cached.mapInArrow(kernel, schema).toArrow()
    finally:
        cached.unpersist()


def list_matrix(column: pa.Array):
    """A list column of equal-length rows as a float64 ``(rows, width)``
    matrix, read from the flat child values (20k 64-dim rows on one core:
    8 ms, against 0.66 s through per-value Python objects). Null elements
    read as NaN, as ``np.array(column.to_pylist(), dtype=float64)`` reads
    them; a null or ragged row raises, as it does there."""
    import numpy as np
    import pyarrow.compute as pc

    if len(column) == 0:
        return np.empty((0, 0))
    lengths = pc.min_max(column.value_lengths())
    if column.null_count or lengths["min"] != lengths["max"]:
        raise ValueError("list_matrix needs non-null lists of one length")
    values = column.flatten().to_numpy(zero_copy_only=False)
    return values.astype(np.float64).reshape(
        len(column), lengths["max"].as_py()
    )


def sum_by(partials: pa.Table, keys: list[str], values: list[str]) -> pa.Table:
    """Exact per-key sums of the integer columns ``values``, sorted by
    ``keys``: the driver half of a round's aggregation."""
    out = partials.group_by(keys).aggregate([(v, "sum") for v in values])
    return out.select([f"{v}_sum" for v in values] + keys).rename_columns(
        values + keys
    ).sort_by([(k, "ascending") for k in keys])
