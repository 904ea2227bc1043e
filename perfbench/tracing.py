"""In-memory spans around the engine's public calls, installed from outside.

A :class:`Tracer` replaces module attributes of ``shovel_spark`` (for
example ``shovel_spark.pipeline.write_sinks``) with wrappers that record a
span per call, and puts the originals back on exit. Engine code that looks
the name up in its module at call time goes through the wrapper, so no file
under ``shovel_spark/`` changes. Each span carries the range of Spark job
ids that started inside it; the counters behind those ids are read once,
when the run ends.

Spark plans lazily: a span around a call that only builds a plan
(``build_routed``, ``parse_pages``, ``upsert_latest``) measures planning,
not execution. Execution is measured by spans around actions.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from dataclasses import dataclass, field

from perfbench.harness import JobCounters

#: (module, attribute, layer) wrapped while tracing. A dotted attribute
#: wraps a method of a class in the module.
WRAPPED = [
    ("shovel_spark.pipeline", "build_routed", "pipeline.plan"),
    ("shovel_spark.pipeline", "parse_pages", "parse.plan"),
    ("shovel_spark.pipeline", "normalize_lang", "enrich.plan"),
    ("shovel_spark.pipeline", "apply_domain_rules", "enrich.plan"),
    ("shovel_spark.pipeline", "apply_routes", "route.plan"),
    ("shovel_spark.pipeline", "run_resumable", "pipeline"),
    ("shovel_spark.pipeline", "replay_dead_letters", "pipeline"),
    ("shovel_spark.pipeline", "write_sinks", "sinks"),
    ("shovel_spark.ledger", "read_done_buckets", "ledger"),
    ("shovel_spark.ledger", "append_attempts", "ledger"),
    ("shovel_spark.ledger", "append_ledger", "ledger"),
    ("shovel_spark.observability", "ProgressMonitor.__exit__", "observability"),
    ("shovel_spark.operators.merge", "upsert_latest", "merge.plan"),
    ("shovel_spark.operators.dedup", "minhash_dedup_pairs", "dedup.plan"),
    ("shovel_spark.operators.dedup", "dup_clusters", "dedup.plan"),
    ("shovel_spark.operators.dedup", "lsh_candidate_pairs", "dedup.plan"),
]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    #: True for a span around a wrapped engine call, False for the
    #: benchmark's own spans (repetition roots, actions)
    engine: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; :meth:`installed` wraps :data:`WRAPPED`."""

    def __init__(self, counters: JobCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        with self._lock:
            sp = Span(
                id=len(self.spans),
                name=name,
                layer=layer,
                parent=stack[-1] if stack else None,
                start=time.perf_counter(),
                job_lo=self.counters.next_job_id(),
            )
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.job_hi = self.counters.next_job_id()
            sp.end = time.perf_counter()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                sp.engine = True
                if layer == "observability":
                    # ProgressMonitor.__exit__(self, ...): samples taken so far
                    sp.attrs["samples"] = len(args[0].snapshot())
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Wrap every :data:`WRAPPED` attribute for the duration of the block."""
        saved = []
        try:
            for mod_name, attr, layer in WRAPPED:
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for part in path:
                    owner = getattr(owner, part)
                original = getattr(owner, leaf)
                saved.append((owner, leaf, original))
                setattr(owner, leaf, self._wrap(original, attr, layer))
            yield self
        finally:
            for owner, leaf, original in reversed(saved):
                setattr(owner, leaf, original)

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return sp.dur - covered(self.children(sp.id), sp.start, sp.end)

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "layer": s.layer,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "jobs": [s.job_lo, s.job_hi],
                "engine": s.engine,
                **s.attrs,
            }
            for s in self.spans
        ]


def covered(spans: list[Span], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``spans``."""
    total, cur_start, cur_end = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        a, b = max(s.start, lo), min(s.end, hi)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
