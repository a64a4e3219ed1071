"""Driver-side spans around calls into the program's public functions.

The tracer swaps a timing wrapper in for a module attribute (or a class
method) and puts the original back on `restore()`. Spans record name,
start, end, parent and the repetition they belong to; they stay in
memory and are written out once, when the run ends. Only the driver
process is traced: the per-document kernels run in Spark's Python
workers and are timed by the serial microtrace in kernels.py instead.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

# (module, attribute, span name). A dotted attribute names a method.
# The span name's prefix up to the last dot is the layer.
TRACED = [
    ("docling_pdf_spark.pipeline", "run_extraction", "pipeline.run_extraction"),
    ("docling_pdf_spark.pipeline", "extract", "pipeline.extract"),
    ("docling_pdf_spark.pipeline", "resolve_salt_mode", "pipeline.resolve_salt_mode"),
    ("docling_pdf_spark.sources.io", "idempotent_partition_overwrite",
     "sources.io.idempotent_partition_overwrite"),
    ("docling_pdf_spark.checkpoint", "ProgressLog.commit", "checkpoint.commit"),
    ("jobs.curate", "curate", "jobs.curate.curate"),
    ("docling_pdf_spark.operators.dedup", "minhash_lsh_dedup",
     "operators.dedup.minhash_lsh_dedup"),
    ("docling_pdf_spark.operators.components", "connected_components",
     "operators.components.connected_components"),
]


@dataclass
class Span:
    id: int
    parent: int | None
    rep: int
    name: str
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.rep = -1
        self.results: dict[str, list] = defaultdict(list)  # span name → return values
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, self.rep, name, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(span)
            self.results[name].append(out)
            return out

        return traced

    def install(self) -> None:
        for module, attr, name in TRACED:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf)
            self._patched.append((owner, leaf, original))
            setattr(owner, leaf, self._wrapper(original, name))

    def restore(self) -> None:
        for owner, leaf, original in reversed(self._patched):
            setattr(owner, leaf, original)
        self._patched.clear()

    def rep_spans(self, rep: int) -> list[Span]:
        return [s for s in self.spans if s.rep == rep]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the time its
    direct children cover (spans nest on one thread, so children never
    overlap each other)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += (s.end - s.start) - child_time[s.id]
    return dict(out)


def totals(spans: list[Span], name: str) -> tuple[int, float]:
    """(calls, total seconds) of the spans with this name."""
    hits = [s.end - s.start for s in spans if s.name == name]
    return len(hits), sum(hits)
