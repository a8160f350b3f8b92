"""TensorFlow bridge (parity: petastorm/tf_utils.py:269-405 tf_tensors /
make_petastorm_dataset).

tensorflow is not installed in this container; ``make_petastorm_dataset``
raises unless TF imports, while ``batch_generator`` (the underlying
generator the tf.data pipeline consumes) works anywhere and is tested.
Type sanitization mirrors petastorm/tf_utils.py:57-96: Decimal->str,
datetime64->int64 ns, uint16->int32, uint32->int64.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np

from petastorm_spark.bridges import rechunk

try:  # gated: container has no tensorflow
    import tensorflow as tf

    HAS_TF = True
except ImportError:  # pragma: no cover
    tf = None
    HAS_TF = False


def _sanitize(arr: np.ndarray) -> np.ndarray:
    if arr.dtype == np.uint16:
        return arr.astype(np.int32)
    if arr.dtype == np.uint32:
        return arr.astype(np.int64)
    if arr.dtype.kind == "M":  # datetime64 -> ns since epoch
        return arr.astype("datetime64[ns]").astype(np.int64)
    if arr.dtype == object and len(arr) and isinstance(arr[0], Decimal):
        return np.array([str(v) for v in arr])
    if arr.dtype == object and len(arr):
        # array columns: equal-shape numeric vectors stack into the
        # (batch, dim) tensor tf.data wants (same rule as the torch
        # bridge); ragged rows pass through as object for the caller
        if all(isinstance(v, np.ndarray) for v in arr):
            shapes = {v.shape for v in arr}
            kinds = {v.dtype.kind for v in arr}
            if len(shapes) == 1 and kinds <= set("iufb"):
                return _sanitize(np.stack(list(arr)))
    return arr


def batch_generator(reader, batch_size: int | None = None):
    """Yield dicts of sanitized numpy column vectors; ``batch_size``
    re-chunks row-group batches (None = one dict per row group)."""
    batches = (
        {k: _sanitize(np.asarray(v)) for k, v in b._asdict().items()}
        for b in reader
    )
    if batch_size is None:
        yield from batches
    else:
        yield from rechunk(batches, batch_size)


def make_petastorm_dataset(reader, batch_size: int | None = None):
    """tf.data.Dataset over the reader's batches (O2)."""
    if not HAS_TF:  # pragma: no cover
        raise NotImplementedError(
            "tensorflow is not available in this environment; use "
            "batch_generator() directly"
        )
    # probe one batch for the signature only; the dataset generator
    # re-iterates the reader from scratch, so epoch 2+ sees all data
    # (Reader supports repeated iteration until close()). Known startup
    # cost: the probe decodes up to the reader pool's prefetch window
    # and discards it — a schema-derived signature would avoid this but
    # cannot know stacked-vs-object batch shapes without data.
    try:
        first = next(batch_generator(reader, batch_size))
    except StopIteration:
        raise ValueError("cannot build a tf.data signature from an empty reader") from None
    signature = {
        k: tf.TensorSpec(shape=(None, *v.shape[1:]), dtype=tf.as_dtype(v.dtype))
        for k, v in first.items()
    }
    return tf.data.Dataset.from_generator(
        lambda: batch_generator(reader, batch_size), output_signature=signature
    )
