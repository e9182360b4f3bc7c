"""Span recording for the traced run, applied from outside the engine.

``Tracer.wrap`` replaces a method of an engine class with a wrapper that
records one span per call: name, start, end, parent span and run id. The
engine itself is not modified. Spans are held in memory and written out
when the run ends.

Spans opened with ``stages=True`` also remember which Spark stages were
submitted while they were open. The benchmark makes one engine call at a
time, so those are exactly the stages that ran for the span; their CPU, GC,
shuffle and spill figures are read from the Spark status store after the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from typing import Any, Callable

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._restore: list[Callable[[], None]] = []
        self._jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001

    def _next_stage(self) -> int:
        return int(self._jsc.dagScheduler().nextStageId())

    @contextlib.contextmanager
    def span(self, name: str, stages: bool = False, **attrs: Any):
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "parent": parent,
              "run": self.run_id, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        if stages:
            sp["stage_lo"] = self._next_stage()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if stages:
                sp["stage_hi"] = self._next_stage()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str, stages: bool = False,
             after: Callable[[dict[str, Any], tuple, Any], None] | None = None) -> None:
        """Record a span around every call of ``owner.attr``. ``after``
        receives the span, the call's arguments and its result, and may
        add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, stages=stages) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            self._restore.pop()()

    def resolve_stage_metrics(self) -> None:
        """Attach summed stage metrics to every span opened with
        ``stages=True``. Call once, after the measured work."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for sp in self.spans:
            if "stage_lo" not in sp:
                continue
            sp.update(cpu_s=0.0, gc_s=0.0, shuffle_bytes=0, spill_bytes=0)
            for i in range(sp["stage_lo"], sp["stage_hi"]):
                try:
                    s = store.lastStageAttempt(i)
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                sp["cpu_s"] += s.executorCpuTime() / 1e9
                sp["gc_s"] += s.jvmGcTime() / 1e3
                sp["shuffle_bytes"] += s.shuffleWriteBytes()
                sp["spill_bytes"] += s.diskBytesSpilled()

    # ------------------------------------------------------------ queries
    def named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, sp: dict[str, Any]) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def descendants(self, sp: dict[str, Any], name: str) -> list[dict[str, Any]]:
        out, todo = [], [sp["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    todo.append(s["id"])
                    if s["name"] == name:
                        out.append(s)
        return out

    @staticmethod
    def busy(spans: list[dict[str, Any]]) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def self_time(self, sp: dict[str, Any]) -> float:
        """Span duration minus the part its direct children cover
        (children of one span never overlap: calls are sequential)."""
        return (sp["end"] - sp["start"]) - self.busy(self.children(sp))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
