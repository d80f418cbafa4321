"""The worker side of the model seams: their batch functions, Arrow
schemas and column builders.

``inference.model_mentions`` and ``model_classify`` run as ``mapInArrow``.
Their pickled ``run`` closure imports this module inside the Python worker,
so the driver never loads pyarrow (about 33 MB) for a seam whose batches it
never sees. A gazetteer build does not reach this module at all.
``load_model`` keeps each seam's model for the life of the (reused) worker.

pyarrow's Python-object converters (``pa.array``, also over numpy input,
``pa.scalar``, ``RecordBatch.from_pydict``/``from_pylist``) import pandas on
their first call. pandas is about 30 MB in every process it reaches, and
nothing in a KG build needs it: the batch functions below build their
output batches straight from raw buffers.
"""

from __future__ import annotations

import array
import importlib
import itertools
import json
from collections.abc import Callable, Iterable, Sequence

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from otar3088_spark.operators.inference import CLASSIFY_SCHEMA, MENTION_SCHEMA

# the key columns every seam passes through from its input batch
_KEYS = ["conv_id", "turn_idx", "sent_idx"]
MENTION_ARROW = to_arrow_schema(MENTION_SCHEMA)
CLASSIFY_ARROW = to_arrow_schema(CLASSIFY_SCHEMA)

# {batch function name: (spec key, model)}: at most one model per seam
_MODELS: dict[str, tuple[str, object]] = {}


def load_model(batch: str, key: str) -> object:
    """The model that the ``inference.ModelSpec`` key names, for the seam
    whose batch function is ``batch``. The factory runs on a worker's first
    task with that spec; a different spec on the same seam replaces it."""
    hit = _MODELS.get(batch)
    if hit is None or hit[0] != key:
        _MODELS.pop(batch, None)  # never hold two models of one seam
        factory, args = json.loads(key)
        module, _, name = factory.partition(":")
        try:
            load = getattr(importlib.import_module(module), name)
        except (ImportError, AttributeError) as e:
            raise ImportError(f"model factory {factory!r} does not import: {e}") from e
        hit = _MODELS[batch] = (key, load(**args))
    return hit[1]


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


def score_mention_batch(
    rb: pa.RecordBatch,
    scorer: Callable[[Sequence[str]], list[list[tuple[int, int, str, float]]]],
) -> pa.RecordBatch:
    """One sentence batch (``conv_id, turn_idx, sent_idx, sent_text``) ->
    one ``MENTION_SCHEMA`` batch, a row per scored span. The scorer gets the
    batch's sentences as a ``list[str]``."""
    texts = rb.column("sent_text").to_pylist()
    preds = scorer(texts)
    # a scorer that filters rows (returns fewer lists than inputs) must fail
    # loudly — a bare zip would truncate and silently drop every trailing
    # sentence's mentions from the batch
    if len(preds) != len(texts):
        raise ValueError(
            f"scorer returned {len(preds)} span lists for "
            f"{len(texts)} sentences; it must return exactly one list "
            "per input row (empty list for no mentions)"
        )
    rows, starts, ends, surfaces, labels, scores = [], [], [], [], [], []
    for i, (text, spans) in enumerate(zip(texts, preds)):
        for s, e, lab, sc in spans:
            s, e = int(s), int(e)
            rows.append(i)
            starts.append(s)
            ends.append(e)
            surfaces.append(text[s:e])
            labels.append(lab)
            scores.append(float(sc))
    keys = rb.select(_KEYS).take(int32_array(rows))
    return pa.RecordBatch.from_arrays(
        [
            *keys.columns,
            int32_array(starts),
            int32_array(ends),
            utf8_array(surfaces),
            utf8_array(labels),
            float64_array(scores),
        ],
        schema=MENTION_ARROW,
    )


def classify_batch(
    rb: pa.RecordBatch, classifier: Callable[[Sequence[str]], list[tuple[str, float]]]
) -> pa.RecordBatch:
    """One sentence batch -> one ``CLASSIFY_SCHEMA`` batch, a row per
    sentence. The classifier gets the batch's sentences as a ``list[str]``."""
    texts = rb.column("sent_text").to_pylist()
    preds = classifier(texts)
    if len(preds) != len(texts):
        raise ValueError(
            f"classifier returned {len(preds)} predictions for "
            f"{len(texts)} sentences; it must return exactly one per input row"
        )
    return pa.RecordBatch.from_arrays(
        [
            *rb.select(_KEYS).columns,
            utf8_array(c for c, _ in preds),
            float64_array(float(s) for _, s in preds),
        ],
        schema=CLASSIFY_ARROW,
    )
