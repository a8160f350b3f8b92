"""Framework bridges: torch loaders, the tf.data generator and the
shuffling buffer between a Reader and batching."""

from __future__ import annotations

import numpy as np


def _joined(chunks: list) -> np.ndarray:
    # a lone pending chunk passes as it is, so a batch cut from it is a slice
    return chunks[0] if len(chunks) == 1 else np.concatenate(chunks)


def rechunk(batches, batch_size: int):
    """Dicts of equal-length column arrays re-cut into dicts of exactly
    ``batch_size`` rows, then one dict of the remaining rows. Chunks are
    joined only when a batch spans several of them."""
    pend: dict[str, list[np.ndarray]] = {}
    count = 0
    for d in batches:
        for k, v in d.items():
            pend.setdefault(k, []).append(v)
        count += len(next(iter(d.values())))
        while count >= batch_size:
            merged = {k: _joined(chunks) for k, chunks in pend.items()}
            count -= batch_size
            pend = {k: [m[batch_size:]] for k, m in merged.items()} if count else {}
            yield {k: m[:batch_size] for k, m in merged.items()}
    if count:
        yield {k: _joined(chunks) for k, chunks in pend.items()}
