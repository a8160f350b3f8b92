"""PyTorch bridge (parity: petastorm/pytorch.py:131-501 DataLoader /
BatchedDataLoader / InMemBatchedDataLoader).

torch is not installed in this container; the loaders run fully on
numpy and convert to torch tensors only if torch imports. Dtype
sanitization mirrors petastorm/pytorch.py:40-70 (uint16->int32,
uint32->int64, bool->uint8; strings rejected).
"""

from __future__ import annotations

import numpy as np

from petastorm_spark.bridges import rechunk

try:  # gated: container has no torch
    import torch

    HAS_TORCH = True
except ImportError:  # pragma: no cover
    torch = None
    HAS_TORCH = False

_SANITIZE = {
    np.dtype(np.uint16): np.int32,
    np.dtype(np.uint32): np.int64,
    np.dtype(np.bool_): np.uint8,
}


def _sanitize(arr: np.ndarray) -> np.ndarray:
    if arr.dtype in _SANITIZE:
        return arr.astype(_SANITIZE[arr.dtype])
    if arr.dtype == object and len(arr):
        # an ARRAY column arrives as an object array of per-row
        # vectors; equal-shape numeric vectors stack into the
        # (batch, dim) tensor the reference produces for shaped
        # Unischema fields (petastorm/pytorch.py decodes into fixed
        # shapes before collation). Ragged rows stay rejected below —
        # reference parity: variable shapes are not collatable.
        if all(isinstance(v, np.ndarray) for v in arr):
            shapes = {v.shape for v in arr}
            kinds = {v.dtype.kind for v in arr}
            if len(shapes) == 1 and kinds <= set("iufb"):
                return _sanitize(np.stack(list(arr)))
    if arr.dtype.kind in ("U", "S", "O"):
        raise TypeError(
            f"dtype {arr.dtype} is not torch-collatable (reference parity: "
            "strings/None rejected, petastorm/pytorch.py:40-70)"
        )
    return arr


def _to_tensor(arr: np.ndarray):
    return torch.from_numpy(np.ascontiguousarray(arr)) if HAS_TORCH else arr


class DataLoader:
    """Batches a (batched) Reader into dicts of tensors/arrays of
    ``batch_size`` rows, slicing/stitching across row-group batches.

    ``shuffling_queue_capacity`` inserts a bounded uniform shuffle
    between the reader and batching. It operates at row-group-batch
    granularity; combine with the Reader's ``shuffle_rows`` /
    ``shuffle_row_groups`` for row-level decorrelation (the pair covers
    the reference's shuffling-buffer semantics)."""

    def __init__(
        self,
        reader,
        batch_size: int = 32,
        keys: list[str] | None = None,
        shuffling_queue_capacity: int = 0,
        shuffling_queue_seed: int | None = None,
    ):
        self.reader = reader
        self.batch_size = batch_size
        self._keys = keys
        # petastorm parity: a bounded uniform shuffling buffer between
        # the reader and batching (petastorm/pytorch.py:131-256)
        self._shuffle_capacity = shuffling_queue_capacity
        # ONE rng across epochs — rebuilding a same-seeded buffer per
        # __iter__ would replay an identical shuffle every epoch
        self._shuffle_rng = (
            np.random.default_rng(shuffling_queue_seed)
            if shuffling_queue_capacity > 1
            else None
        )

    def _source(self):
        if self._shuffle_capacity > 1:
            from petastorm_spark.bridges.shuffling import RandomShufflingBuffer

            buf = RandomShufflingBuffer(
                self._shuffle_capacity,
                max(1, self._shuffle_capacity // 2),
                rng=self._shuffle_rng,
            )
            return buf.shuffle(self.reader)
        return self.reader

    def __iter__(self):
        keys = self._keys
        batches = (
            {k: np.asarray(d[k]) for k in keys or d}
            for d in (b._asdict() for b in self._source())
        )
        for out in rechunk(batches, self.batch_size):
            yield {k: _to_tensor(_sanitize(v)) for k, v in out.items()}

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.reader.close()


class BatchedDataLoader(DataLoader):
    """Same contract; kept as a named alias for reference parity — the
    base loader is already vectorized (column-chunk concatenation, no
    per-row work)."""


class InMemBatchedDataLoader:
    """Load at most ``capacity`` rows once, then epoch-reshuffle by a
    seeded permutation (petastorm/pytorch.py:373-501)."""

    def __init__(
        self,
        reader,
        batch_size: int = 32,
        capacity: int | None = None,
        num_epochs: int = 1,
        seed: int | None = None,
        shuffle: bool = True,
    ):
        cols: dict[str, list[np.ndarray]] = {}
        n = 0
        for batch in reader:
            d = batch._asdict()
            for k, v in d.items():
                cols.setdefault(k, []).append(np.asarray(v))
            n += len(next(iter(d.values())))
            if capacity is not None and n >= capacity:
                break
        self._data = {
            k: np.concatenate(chunks)[: capacity or n] for k, chunks in cols.items()
        }
        self._n = min(n, capacity) if capacity else n
        self.batch_size = batch_size
        self.num_epochs = num_epochs
        self.shuffle = shuffle
        self._rng = np.random.default_rng(seed)

    def __iter__(self):
        for _ in range(self.num_epochs):
            order = (
                self._rng.permutation(self._n) if self.shuffle else np.arange(self._n)
            )
            for start in range(0, self._n, self.batch_size):
                idx = order[start : start + self.batch_size]
                yield {
                    k: _to_tensor(_sanitize(v[idx])) for k, v in self._data.items()
                }


class LengthBucketedLoader:
    """Padding-efficient batching for variable-length fields: rows from
    a row-Reader are routed into length buckets (``boundaries`` give
    the bucket upper edges, like tf's bucket_by_sequence_length) and a
    batch is emitted whenever any bucket reaches ``batch_size`` — so
    each emitted batch holds similar-length rows and the padded-token
    waste of mixed-length batches disappears. Remainder batches flush
    in bucket order at exhaustion; every row is emitted exactly once
    (completeness tested).

    The variable-length field is padded to the batch max with
    ``pad_value`` and an ``<field>_len`` vector carries the true
    lengths. Works on plain numpy (torch optional, like the rest of
    this bridge). Memory is bounded by
    ``len(boundaries)+1 * batch_size`` buffered rows.
    """

    def __init__(
        self,
        reader,
        length_field: str,
        boundaries: list[int],
        batch_size: int = 32,
        pad_value=0,
    ):
        if sorted(boundaries) != list(boundaries) or not boundaries:
            raise ValueError(f"boundaries must be ascending, got {boundaries}")
        self.reader = reader
        self.length_field = length_field
        self.boundaries = list(boundaries)
        self.batch_size = batch_size
        self.pad_value = pad_value

    def _bucket(self, n: int) -> int:
        for i, b in enumerate(self.boundaries):
            if n <= b:
                return i
        return len(self.boundaries)

    def _emit(self, rows: list[dict]):
        keys = list(rows[0])
        out = {}
        f = self.length_field
        lens = np.array([len(np.atleast_1d(r[f])) for r in rows], dtype=np.int64)
        m = int(lens.max())
        # dtype from the DATA (joined with pad_value's) — np.full alone
        # would infer int64 from pad_value=0 and silently truncate
        # float payloads to integers
        dt = np.result_type(
            *(np.atleast_1d(r[f]).dtype for r in rows), type(self.pad_value)
        )
        padded = np.full((len(rows), m), self.pad_value, dtype=dt)
        for i, r in enumerate(rows):
            v = np.atleast_1d(r[f])
            padded[i, : len(v)] = v
        out[f] = _to_tensor(_sanitize(padded))
        out[f + "_len"] = _to_tensor(lens)
        for k in keys:
            if k == f:
                continue
            out[k] = _to_tensor(_sanitize(np.asarray([r[k] for r in rows])))
        return out

    def __iter__(self):
        buckets: list[list[dict]] = [[] for _ in range(len(self.boundaries) + 1)]
        for row in self.reader:
            d = row._asdict() if hasattr(row, "_asdict") else dict(row)
            b = self._bucket(len(np.atleast_1d(d[self.length_field])))
            buckets[b].append(d)
            if len(buckets[b]) >= self.batch_size:
                yield self._emit(buckets[b])
                buckets[b] = []
        for rows in buckets:
            if rows:
                yield self._emit(rows)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.reader.close()
