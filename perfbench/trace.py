"""Span recorder for the traced run.

Wrappers are installed from this file around public callables of each
layer and removed afterwards; nothing inside ``petastorm_spark`` changes.
A span is (name, start, end, parent), where parent is the index of the
enclosing span on the same thread (-1 at top level). Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

from perfbench.metrics import CODECS


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list = []

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def traced(self, name: str, fn, count=None):
        """``fn`` wrapped in a span named ``name``. ``count(args, result)``
        may return {counter: increment} recorded at the same boundary."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(None)
            parent = stack[-1] if stack else -1
            stack.append(idx)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans[idx] = (name, t0, time.perf_counter(), parent)
            if count is not None:
                for key, value in count(args, result).items():
                    tracer.add(key, value)
            return result

        return wrapper

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by its traced form until :meth:`close`."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._restore.append((owner, attr, fn))
        setattr(owner, attr, self.traced(name, fn, count))

    def close(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def busy(self, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s is not None and s[0] == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s is not None and s[0] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                if s is not None:
                    name, start, end, parent = s
                    f.write(json.dumps(
                        {"id": i, "name": name, "start": start, "end": end,
                         "parent": parent}
                    ) + "\n")


def install_reader_layers(tracer: Tracer) -> None:
    """Spans around the reader's piece decode (pool busy time), the piece
    worker kernels, codec decode, the row predicate and the transform. The
    kernels and the transform are patched in ``petastorm_spark.reader``,
    which imported them by name."""
    from petastorm_spark import codecs, predicates, reader

    tracer.wrap(reader.Reader, "_decode_piece", "reader.decode_piece")
    tracer.wrap(
        reader, "load_table", "piece_worker.load_table",
        lambda a, t: {"piece_worker.load_table.bytes": t.nbytes},
    )
    tracer.wrap(reader, "decode_col", "piece_worker.decode_col")
    tracer.wrap(
        reader, "dnf_mask", "piece_worker.dnf_mask",
        lambda a, m: {"piece_worker.dnf_mask.rows_in": len(m),
                      "piece_worker.dnf_mask.rows_out": int(m.sum())},
    )
    tracer.wrap(
        reader, "apply_transform_pandas", "transform",
        lambda a, out: {"transform.rows": len(out)},
    )
    tracer.wrap(
        predicates.in_pseudorandom_split, "do_include_pandas", "predicates",
        lambda a, m: {"predicates.rows_in": len(m),
                      "predicates.rows_out": int(m.sum())},
    )
    for name in CODECS:
        tracer.wrap(getattr(codecs, name), "decode", f"codecs.{name}.decode")


class TracedIterable:
    """Wraps an iterable so that each ``next`` made on it is a span named
    ``name`` (the reader as seen by the loader, or the loader as seen by
    the training loop)."""

    def __init__(self, iterable, tracer: Tracer, name: str):
        self._iterable = iterable
        self._tracer = tracer
        self._name = name

    def __iter__(self):
        it = iter(self._iterable)
        step = self._tracer.traced(self._name, lambda: next(it, _END))
        try:
            while True:
                item = step()
                if item is _END:
                    return
                yield item
        finally:
            close = getattr(it, "close", None)
            if close is not None:
                close()


_END = object()


def reader_layers(tracer: Tracer, workers: int, wall: float) -> dict:
    """Per-layer values recorded by :func:`install_reader_layers`."""
    c = tracer.counts
    busy = tracer.busy("reader.decode_piece")
    out = {
        "reader.pool_busy_s": busy,
        "reader.pool_util": busy / (workers * wall) if wall > 0 else 0.0,
        "piece_worker.load_table.calls": tracer.calls("piece_worker.load_table"),
        "piece_worker.load_table.busy_s": tracer.busy("piece_worker.load_table"),
        "piece_worker.load_table.bytes": c["piece_worker.load_table.bytes"],
        "piece_worker.decode_col.calls": tracer.calls("piece_worker.decode_col"),
        "piece_worker.decode_col.busy_s": tracer.busy("piece_worker.decode_col"),
        "piece_worker.dnf_mask.rows_in": c["piece_worker.dnf_mask.rows_in"],
        "piece_worker.dnf_mask.rows_out": c["piece_worker.dnf_mask.rows_out"],
        "predicates.rows_in": c["predicates.rows_in"],
        "predicates.rows_out": c["predicates.rows_out"],
        "predicates.busy_s": tracer.busy("predicates"),
        "transform.rows": c["transform.rows"],
        "transform.busy_s": tracer.busy("transform"),
    }
    for name in CODECS:
        span = f"codecs.{name}.decode"
        out[f"{span}.calls"] = tracer.calls(span)
        out[f"{span}.busy_s"] = tracer.busy(span)
    return out
