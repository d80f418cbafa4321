"""Pandas-free Arrow helpers: columns built from raw buffers, and Arrow
tables handed to the JVM as DataFrames.

pyarrow's Python-object converters (``pa.array``, also over numpy input,
``pa.scalar``, ``RecordBatch.from_pydict``/``from_pylist``) import pandas on
their first call, and so does ``SparkSession.createDataFrame`` whatever its
input. pandas is about 30 MB in every process it reaches, and nothing in
a KG build needs it: the scoring workers build their output batches with
the array helpers below, and the driver creates its constant tables with
:func:`arrow_dataframe`.
"""

from __future__ import annotations

import array
import itertools
from collections.abc import Iterable
from typing import TYPE_CHECKING

import pyarrow as pa

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType


# Array.from_buffers over an array.array converts nothing.
def int32_array(values: Iterable[int]) -> pa.Array:
    buf = array.array("i", values)
    return pa.Array.from_buffers(pa.int32(), len(buf), [None, pa.py_buffer(buf)])


def float64_array(values: Iterable[float]) -> pa.Array:
    buf = array.array("d", values)
    return pa.Array.from_buffers(pa.float64(), len(buf), [None, pa.py_buffer(buf)])


def utf8_array(values: Iterable[str]) -> pa.Array:
    """utf-8 data buffer plus int32 byte offsets (Arrow's ``string``)."""
    encoded = [v.encode() for v in values]
    offsets = array.array("i", itertools.accumulate(map(len, encoded), initial=0))
    return pa.Array.from_buffers(
        pa.string(), len(encoded), [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(encoded))]
    )


def arrow_dataframe(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """``table`` as a DataFrame with ``schema``, through the JVM's Arrow
    reader: no pickled ``parallelize``, so no Python worker reads it.

    PySpark 4.1.2's ``SparkSession.createDataFrame`` runs ``import pandas``
    (``pyspark/sql/session.py``) before it looks at its input, and only then
    sends a ``pa.Table`` to ``_create_from_arrow_table``. This calls that
    Arrow route directly, with the session time zone ``createDataFrame``
    would pass."""
    return spark._create_from_arrow_table(table, schema, spark._jconf.sessionLocalTimeZone())
