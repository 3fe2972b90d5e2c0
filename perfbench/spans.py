"""Spans around the benchmark's calls into each module.

A traced run opens one span per public call: it tags the Spark jobs the
call starts with ``setJobGroup(<span name>)`` so the event log can be
folded per call, and samples the process tree's CPU at both ends.  Spans
stay in memory and are written once, at the end of the run.  An
untraced run uses :class:`NullTracer`, whose span does nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional

from procstat import ProcTreeSampler


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start_s: float
    end_s: float = 0.0
    attrs: Dict[str, float] = field(default_factory=dict)

    @property
    def duration_s(self) -> float:
        return self.end_s - self.start_s


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Optional[Span]]:
        yield None


class Tracer:
    def __init__(self, sc, sampler: ProcTreeSampler):
        self._sc = sc
        self._sampler = sampler
        self._t0 = time.perf_counter()
        self.epoch_s = time.time()
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  time.perf_counter() - self._t0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(name, name)
        cpu0 = self._sampler.cpu()
        try:
            yield sp
        finally:
            d = self._sampler.cpu() - cpu0
            sp.attrs.update(jvm_cpu_s=d.jvm_s, py_cpu_s=d.python_s)
            sp.end_s = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.name, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def by_name(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"epoch_s": self.epoch_s,
                       "spans": [asdict(s) for s in self.spans]}, f)
