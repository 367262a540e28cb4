"""Spans around calls into the pipeline's layers, recorded from outside.

`Tracer.layer(name)` tags every Spark job started inside it with the job
group ``taro:<name>`` and records a driver-side span (name, parent, start,
end) in memory. `Tracer.wrapped` does the same around every call of a
module-level library function for the duration of a traced pass, and keeps
each call's wall time. Nothing inside the program is changed; spans end
when the wrapped call returns.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass
from pathlib import Path

from trace_aware_reservoir_otel_spark import fsutil

GROUP_PREFIX = "taro:"


@dataclass
class Span:
    name: str
    parent: "str | None"
    start: float
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start


class CountingCommitter(fsutil.Committer):
    """Delegating manifest committer that counts the bytes it commits."""

    def __init__(self, inner: fsutil.Committer):
        self.inner = inner
        self.bytes = 0

    def replace(self, path: str, data: bytes) -> None:
        self.bytes += len(data)
        self.inner.replace(path, data)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: "list[Span]" = []
        self.calls: "dict[str, list[float]]" = {}
        self._stack: "list[str]" = []

    def _set_group(self, name: "str | None") -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if name is None else GROUP_PREFIX + name
        )

    @contextlib.contextmanager
    def layer(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(Span(name, parent, start, end))

    @contextlib.contextmanager
    def wrapped(self, module, attr: str, layer: str):
        """Trace every call of `module.attr` as a span of `layer`."""
        original = getattr(module, attr)
        walls = self.calls.setdefault(attr, [])

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            with self.layer(layer):
                try:
                    return original(*args, **kwargs)
                finally:
                    walls.append(time.perf_counter() - t0)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)

    @contextlib.contextmanager
    def counting_manifests(self):
        counter = CountingCommitter(fsutil.get_committer())
        previous = fsutil.set_committer(counter)
        try:
            yield counter
        finally:
            fsutil.set_committer(previous)

    def layers(self) -> "list[str]":
        return sorted({s.name for s in self.spans})

    def wall(self, name: str) -> float:
        return sum(s.wall for s in self.spans if s.name == name and s.parent is None)

    def total_wall(self) -> float:
        return sum(s.wall for s in self.spans if s.parent is None)

    def call_walls(self, attr: str) -> "list[float]":
        return self.calls.get(attr, [])


def noop(df) -> None:
    """Materialise a frame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def tree_stats(root: "str | Path") -> "tuple[int, int, int]":
    """(data files, directories, data bytes) under `root`, counting only
    parquet and JSON-lines files (not checksums or markers). Files that
    vanish during the walk (a concurrent vacuum) are skipped."""
    files = dirs = nbytes = 0
    for cur, subdirs, names in os.walk(root):
        dirs += len(subdirs)
        for n in names:
            if n.endswith((".parquet", ".jsonl")):
                try:
                    nbytes += os.path.getsize(os.path.join(cur, n))
                except FileNotFoundError:
                    continue
                files += 1
    return files, dirs, nbytes
