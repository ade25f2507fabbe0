"""Frames built from rows the driver already holds.

``spark.createDataFrame(list_of_rows)`` plans a ``Scan ExistingRDD``
over a parallelized Python RDD: every execution of such a frame starts
one Python worker task per default-parallelism slot (about 1 CPU-s at
local[4]) just to unpickle a handful of rows. :func:`local_frame` turns
the rows into one ``pyarrow.Table`` on the driver instead, which Spark
plans as a ``LocalTableScan``: the rows live in the plan, no Python
worker ever starts, and a bare collect runs no job.

Every frame the package builds from Python rows goes through here, and
so does every driver-side metadata file (:func:`arrow_table`): the
warehouse writes the runner's manifest from it with no Spark job. The
executor-side twin is :func:`row_map`, the one per-row Arrow map: a
kernel over one input row's values, run inside ``mapInPandas``.
"""

from __future__ import annotations

import typing

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: field types whose Python values pyarrow reads differently from
#: ``createDataFrame``: pyarrow takes a naive datetime as UTC and drops
#: an aware one's offset, pyspark reads a naive one in the process's
#: local time. Their values go through the type's own ``toInternal``
#: (epoch micros / days), so both paths store the same instant.
_VIA_INTERNAL = (T.TimestampType, T.TimestampNTZType, T.DateType)


def arrow_table(rows: typing.Iterable[typing.Sequence], schema: T.StructType) -> pa.Table:
    """``rows`` (tuples in ``schema`` field order) as one ``pyarrow.Table``
    whose Arrow schema is ``to_arrow_schema(schema)``, non-nullable fields
    kept.

    Values follow ``createDataFrame(rows, schema)``'s conversions for
    the types the package builds frames of: int, long, string, bool,
    double, float arrays, maps, binary, decimal, dates and top-level
    timestamps (stored as UTC instants). A row of the wrong length or a
    None in a non-nullable field raises, as there."""
    rows = list(rows)
    n = len(schema.fields)
    for r in rows:
        if len(r) != n:
            raise ValueError("row {!r} has {} values for {} fields".format(r, len(r), n))
    columns = list(zip(*rows)) if rows else [()] * n
    arrow = to_arrow_schema(schema)
    arrays = []
    for field, arrow_field, values in zip(schema.fields, arrow, columns):
        if isinstance(field.dataType, _VIA_INTERNAL):
            values = [field.dataType.toInternal(v) for v in values]
        arr = pa.array(list(values), type=arrow_field.type)
        if arr.null_count and not field.nullable:
            raise ValueError("field {}: not nullable, but got None".format(field.name))
        arrays.append(arr)
    return pa.Table.from_arrays(arrays, schema=arrow)


def local_frame(spark: SparkSession, rows: typing.Iterable[typing.Sequence],
                schema: typing.Union[T.StructType, str]) -> DataFrame:
    """A DataFrame of ``rows`` with exactly ``schema`` -- a StructType or
    a DDL string -- planned as a ``LocalTableScan`` over
    :func:`arrow_table`'s table."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def row_map(df: DataFrame, cols: typing.Sequence, schema: T.StructType,
            fn: typing.Callable[..., typing.Iterable[typing.Sequence]]) -> DataFrame:
    """One narrow ``mapInPandas`` pass over ``df.select(*cols)`` that calls
    ``fn(*values)`` once per input row, in batch order.

    ``fn`` returns (or, as a generator, yields) zero or more output
    tuples in ``schema`` field order: none for a skipped row, several
    for a fan-out. Each Arrow batch yields one
    ``pd.DataFrame(rows, columns=schema.fieldNames())``, and a batch with
    no output rows yields nothing: an empty pandas column can type as
    float64, which Arrow cannot convert to an array field. NULL handling
    and per-row error isolation are the kernel's: a value is whatever
    the Arrow batch holds (a NULL int is NaN in a float64 column)."""
    names = schema.fieldNames()

    def gen(batches: typing.Iterator[pd.DataFrame]) -> typing.Iterator[pd.DataFrame]:
        for b in batches:
            # zip over numpy columns, not iterrows(): a pandas Series per
            # row costs more than the decode of a small payload
            values = [b.iloc[:, k].to_numpy() for k in range(b.shape[1])]
            rows = [out for row in zip(*values) for out in fn(*row)]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(gen, schema)
