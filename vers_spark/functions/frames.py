"""Driver-built DataFrames through Arrow.

In classic PySpark, ``spark.createDataFrame(python_rows, schema)`` pickles
the rows into a PythonRDD. Collecting that frame runs a Spark job whose
tasks need a Python worker pool of their own, separate from the
``mapInPandas`` pool, so its first use after the Arrow kernels warmed up
boots fresh workers (measured 1.9 s on a 4-vCPU host; about 0.3 s warm).
A frame built from an Arrow table is a ``LocalRelation`` instead: the rows
reach the JVM once, and collecting the frame starts no job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _column(values, typ: pa.DataType) -> pa.Array:
    if isinstance(values, np.ndarray) and values.ndim == 2 and pa.types.is_list(typ):
        n, d = values.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * d),
            pa.array(values.ravel(), type=typ.value_type),
        )
    return pa.array(values, type=typ)


def local_frame(spark: SparkSession, schema: str | StructType, data) -> DataFrame:
    """A ``LocalRelation`` holding ``data`` with exactly ``schema``'s column
    types (a DDL string or a ``StructType``).

    ``data`` is either a list of row tuples in schema order or a dict of
    columns (name → sequence; numpy arrays are taken as they are, and a
    2-D numpy array fills an array column row by row). Values convert with
    Arrow's checked casts, so an int64 that does not fit an ``int`` column
    raises instead of wrapping. An empty ``data`` gives an empty frame."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    if not isinstance(data, dict):
        cols = list(zip(*data)) if data else [()] * len(struct.names)
        data = dict(zip(struct.names, cols))
    table = pa.Table.from_arrays(
        [_column(data[f.name], f.type) for f in arrow], schema=arrow
    )
    return spark.createDataFrame(table, struct)
