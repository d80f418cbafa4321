"""Pandas-free Arrow column builders for the Python workers.

pyarrow's Python-object converters (``pa.array``, also over numpy input,
``pa.scalar``, ``RecordBatch.from_pydict``/``from_pylist``) import pandas on
their first call. pandas is about 30 MB in every process it reaches, and
nothing in a KG build needs it: the scoring workers build their output
batches with the helpers below, straight from raw buffers. The driver of a
gazetteer build does not load pyarrow at all; its constant tables reach the
JVM through ``session.constant_dataframe``.
"""

from __future__ import annotations

import array
import itertools
from collections.abc import Iterable

import pyarrow as pa


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
