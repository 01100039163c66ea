"""Driver-side rows → DataFrame, as an Arrow-backed ``LocalRelation``.

``spark.createDataFrame(<python list>, schema)`` builds a ``LogicalRDD`` over
a parallelized Python RDD: every scan of the frame launches Python-worker
tasks, and the frame reports ``sizeInBytes = Long.MaxValue``, so Catalyst
never broadcasts it and every join against it plans as a sort-merge join
with a shuffle on both sides. A ``pyarrow.Table`` handed to
``createDataFrame`` instead lands in the JVM as a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``) with real statistics:
no Python worker runs, and a small dim broadcasts like any other.

Every frame the package builds from driver-side rows (seed dims, xlsx
snapshots, bootstrap empties, index metadata) goes through ``local_frame``.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DateType, StructType, TimestampType


def _column(values: Sequence[object], data_type) -> pa.Array:
    # Dates and timestamps go through the field type's own ``toInternal``
    # (days / microseconds since the epoch, naive datetimes read in the
    # process timezone) — exactly what the list path stores — so Arrow never
    # localizes a naive datetime itself.
    if isinstance(data_type, (DateType, TimestampType)):
        values = [data_type.toInternal(v) for v in values]
    return pa.array(values, type=to_arrow_type(data_type))


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence[object]], schema: StructType
) -> DataFrame:
    """A DataFrame of ``rows`` (positional, in ``schema`` field order) with
    the values ``spark.createDataFrame(rows, schema)`` would hold.

    Flat schemas only (atomic field types)."""
    table = pa.Table.from_arrays(
        [_column([r[i] for r in rows], f.dataType) for i, f in enumerate(schema.fields)],
        names=schema.fieldNames(),
    )
    return spark.createDataFrame(table, schema=schema)
