"""In-memory span recorder that wraps the engine's public functions from
outside, without editing them.

A span has a name (`<layer>.<function>`), a start and end in
nanoseconds, a parent span and the id of the benchmark operation it
belongs to.  Spans are recorded only inside an operation; calls made
outside one (set-up, checks) pass straight through.  While a span is
open its id is the thread's Spark job group, so the event log files
every job and stage under the innermost span that launched it.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb-"


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording --------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span is None else f"{GROUP_PREFIX}{span['id']}",
            )

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        """Open a span.  `op=True` starts a new operation (a root span)."""
        if not op and not self._stack:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "op": None if parent is None else parent["op"],
            "start": time.perf_counter_ns(),
            "end": None,
            **attrs,
        }
        if parent is None:
            rec["op"] = rec["id"]
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter_ns()
            self._stack.pop()
            self._set_group(parent)

    # -- wrapping ---------------------------------------------------------

    def _traced(self, func, span_name: str):
        tracer = self

        @functools.wraps(func)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return func(*args, **kwargs)

        return traced

    def wrap_class(self, cls: type, layer: str,
                   rename: dict[str, str] | None = None) -> None:
        """Wrap every public function defined on `cls`, and each
        function named in `rename` under its new span name."""
        rename = rename or {}
        for attr, value in list(vars(cls).items()):
            if attr.startswith("_") and attr not in rename:
                continue
            if inspect.isfunction(value):
                self._patch(cls, attr, value,
                            f"{layer}.{rename.get(attr, attr)}")

    def wrap_function(self, func, layer: str, package: str) -> None:
        """Wrap a module-level function at every binding of it in the
        already imported modules of `package` (callers that did
        `from x import func` hold their own binding)."""
        traced = self._traced(func, f"{layer}.{func.__name__}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    self._patches.append((mod, attr, value))
                    setattr(mod, attr, traced)

    def _patch(self, owner, attr: str, func, span_name: str) -> None:
        self._patches.append((owner, attr, func))
        setattr(owner, attr, self._traced(func, span_name))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, func = self._patches.pop()
            setattr(owner, attr, func)

    # -- analysis ---------------------------------------------------------

    def closed_spans(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]


def durations_ms(spans: list[dict]) -> dict[int, float]:
    return {s["id"]: (s["end"] - s["start"]) / 1e6 for s in spans}


def self_times_ms(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover.
    Children of one span run one after another on one thread, so their
    summed durations are the covered time."""
    dur = durations_ms(spans)
    own = dict(dur)
    for s in spans:
        if s["parent"] is not None and s["parent"] in own:
            own[s["parent"]] -= dur[s["id"]]
    return own


def coverage(spans: list[dict]) -> dict[int, float]:
    """Per operation: the share of its wall time its child spans cover."""
    dur = durations_ms(spans)
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None and s["parent"] == s["op"]:
            covered[s["op"]] = covered.get(s["op"], 0.0) + dur[s["id"]]
    return {
        s["id"]: covered.get(s["id"], 0.0) / dur[s["id"]]
        for s in spans
        if s["parent"] is None and dur[s["id"]] > 0
    }
