"""Span recorders installed around the engine's public functions.

Spans wrap the names the engine resolves at call time: module globals of
``xdump_spark.engine`` (``compute_closure``, ``sequence_state``,
``rows_to_csv``, ``parse_csv_bytes``) and methods of ``DumpArchive``,
``SparkDumpEngine`` and ``LoadedDump``. Nothing inside ``xdump_spark``
changes; ``uninstall`` puts every original back. Spans stay in memory.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    cycle: int
    parent: int | None          # index of the enclosing span, None at top level
    start: float
    ids0: tuple[int, int]       # (next job id, next stage id) at start
    end: float = 0.0
    ids1: tuple[int, int] = (0, 0)
    size: int = 0               # bytes produced (encode) or read (archive read)
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> tuple[int, int]:
        return self.ids0[0], self.ids1[0]

    @property
    def stages(self) -> tuple[int, int]:
        return self.ids0[1], self.ids1[1]


def _bytes_read(result) -> int:
    return sum(len(v) for v in result.values()) if isinstance(result, dict) else 0


class Tracer:
    def __init__(self, counters):
        self.counters = counters
        self.spans: list[Span] = []
        self.cycle = 0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn, size_of=None):
        tracer = self

        @functools.wraps(fn)
        def recorded(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = Span(name, tracer.cycle, stack[-1] if stack else None,
                        time.perf_counter(), tracer.counters.ids())
            idx = len(tracer.spans)
            tracer.spans.append(span)
            if span.parent is not None:
                tracer.spans[span.parent].children.append(idx)
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.perf_counter()
                span.ids1 = tracer.counters.ids()
            if size_of is not None:
                span.size = size_of(result)
            return result

        return recorded

    def _patch(self, owner, attr: str, name: str, size_of=None) -> None:
        original = owner.__dict__[attr]
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self._wrap(name, original, size_of))

    def install(self) -> None:
        from xdump_spark import archive, engine

        self._patch(engine, "compute_closure", "planner.closure")
        self._patch(engine, "sequence_state", "engine.sequence_state")
        self._patch(engine, "rows_to_csv", "archive.encode", len)
        self._patch(engine, "parse_csv_bytes", "archive.decode")
        self._patch(archive.DumpArchive, "write", "archive.write")
        for reader in ("read_schema", "read_sequences"):
            self._patch(archive.DumpArchive, reader, "archive.read")
        self._patch(archive.DumpArchive, "read_data", "archive.read", _bytes_read)
        for method in ("dump", "dump_distributed"):
            self._patch(engine.SparkDumpEngine, method, "engine.dump")
        for method in ("load", "load_distributed"):
            self._patch(engine.SparkDumpEngine, method, "engine.load")
        self._patch(engine.LoadedDump, "write_parquet_db", "target.write")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- analysis ----------------------------------------------------------
    def self_seconds(self, idx: int) -> float:
        """Duration minus the part of it covered by child spans."""
        span = self.spans[idx]
        covered, reach = 0.0, span.start
        for c in sorted((self.spans[i] for i in span.children), key=lambda s: s.start):
            lo, hi = max(c.start, reach), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return span.seconds - covered

    def of_cycle(self, cycle: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.cycle == cycle]

    def to_json(self) -> list[dict]:
        """Every span with its Spark counter totals (stages must be fetched)."""
        return [
            {"name": s.name, "cycle": s.cycle, "parent": s.parent, "start": s.start,
             "end": s.end, "bytes": s.size, "counters": self.counters.totals(s.jobs, s.stages)}
            for s in self.spans
        ]
