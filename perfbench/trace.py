"""In-memory spans around calls into the engine's layers.

A span records its name, start, end and the span that was open when it
began (per thread, so the overlapped constraint thread nests under its
own parent).  Spans stay in memory; ``report`` turns them into per-name
total and self seconds once the run ends.  A layer's self time is its
duration minus the part covered by its child spans.

``instrument`` wraps public functions of the engine's modules for the
duration of a traced section, so calls one layer makes into another
(``read_iceberg`` -> ``plan_scan``) get their own spans too.  The
wrapping replaces module attributes and is undone on exit; nothing in
the engine is edited.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from dataclasses import dataclass
from typing import Optional


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def adopt(self, parent: Optional[int]) -> None:
        """Make ``parent`` the enclosing span of the calling thread
        (a worker thread started inside a span)."""
        self._local.stack = [parent] if parent is not None else []

    def current(self) -> Optional[int]:
        st = self._stack()
        return st[-1] if st else None

    def current_name(self) -> Optional[str]:
        sid = self.current()
        return None if sid is None else self.spans[sid].name

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, st[-1] if st else None,
                      time.perf_counter())
            self.spans.append(sp)
        st.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()

    def report(self) -> dict:
        """{name: {"n", "total_s", "self_s"}} over all closed spans."""
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = (child_s.get(sp.parent, 0.0)
                                      + sp.end - sp.start)
        out: dict[str, dict] = {}
        for sp in self.spans:
            dur = sp.end - sp.start
            r = out.setdefault(sp.name, {"n": 0, "total_s": 0.0,
                                         "self_s": 0.0})
            r["n"] += 1
            r["total_s"] += dur
            # overlapped children (a thread pool under one span) can
            # cover more than the parent's wall: self time floors at 0
            r["self_s"] += max(0.0, dur - child_s.get(sp.sid, 0.0))
        return out


# (module, attribute, span name): the cross-layer calls worth a span
# of their own when made from inside another layer
NESTED = (
    ("schema_guru_spark.sources.iceberg_meta", "plan_scan",
     "sources.plan_scan"),
    ("schema_guru_spark.sources.iceberg_meta", "plan_incremental",
     "sources.plan_incremental"),
    ("schema_guru_spark.pipeline", "validate_repo_table",
     "pipeline.validate_repo_table"),
    ("schema_guru_spark.plans.checkpoint", "CheckpointManager.record_done",
     "plans.checkpoint.record_done"),
    ("schema_guru_spark.plans.checkpoint",
     "CheckpointManager.finished_buckets",
     "plans.checkpoint.finished_buckets"),
    ("schema_guru_spark.plans.incremental", "cumulative_report",
     "plans.incremental.cumulative_report"),
    ("schema_guru_spark.plans.incremental", "_write_uniq_sketch",
     "plans.incremental.uniq_sketch"),
)


@contextlib.contextmanager
def instrument(tracer: Tracer, targets=NESTED):
    """Wrap each target so that every call through the module (or class)
    attribute opens a span; restore the originals on exit."""
    undo = []
    try:
        for mod_name, attr, span_name in targets:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]

            def wrap(fn, name=span_name):
                @functools.wraps(fn)
                def traced(*a, **k):
                    if tracer.current_name() == name:
                        # the caller already opened this layer's span
                        return fn(*a, **k)
                    with tracer.span(name):
                        return fn(*a, **k)
                return traced

            setattr(owner, leaf, wrap(orig))
            undo.append((owner, leaf, orig))
        yield tracer
    finally:
        for owner, leaf, orig in reversed(undo):
            setattr(owner, leaf, orig)
