"""Out-of-program tracing: wraps the public functions of each engine layer
from outside, records spans and counts in memory, and reduces them to the
per-layer metrics.

Every name is patched where its caller looks it up: the engine binds
`execute_dml`/`execute_source_dml` at import, so those are replaced on the
`dataux_spark.engine` module; the dialect and SHOW/DESCRIBE plans are
reached through module attributes; sources, mutators and the table store
through class attributes. Layers are the span-name prefixes: engine,
dialect, sources, dml, operators, spark (SparkSession.sql/.table calls and
the benchmark's own action).
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        # time spent in the tracer's own bookkeeping (span and count
        # records, wrapper entry/exit): what tracing adds to a traced run
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def call(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        idx = self.begin(name)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            self.end(idx)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    # ---------------------------------------------------------- patching

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            tracer.counts[name] += 1
            out = tracer.call(name, original, *args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def wrap_counted(self, owner, attr: str, name: str, counter: str, within: str) -> None:
        """Span every call of owner.attr; count only those made inside a
        `within` span (the per-statement counters)."""
        original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            if tracer.inside(within):
                tracer.counts[counter] += 1
            tracer.overhead_s += time.perf_counter() - t0
            return tracer.call(name, original, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def install(self) -> None:
        from pyspark.sql import SparkSession

        import dataux_spark.engine as engine_mod
        from dataux_spark import dialect
        from dataux_spark.dml import TableStore
        from dataux_spark.plans import show
        from dataux_spark.sources.base import Source, SourceMutator

        self.wrap(engine_mod.Engine, "sql", "engine.sql")
        for fn in ("describe", "show_tables", "show_databases", "show_create_table",
                   "show_variables"):
            self.wrap(show, fn, "engine.plans")
        for fn in ("rewrite", "split_statements", "bind_params"):
            self.wrap(dialect, fn, f"dialect.{fn}")

        def offered(out):
            self.counts["engine.pushdown_offers"] += 1
            if out is not None:
                self.counts["engine.pushdown_accepts"] += 1

        for cls in _subclasses(Source):
            own = cls.__dict__
            if "load" in own:
                self.wrap(cls, "load", "sources.load")
            if "register_all" in own:
                self.wrap(cls, "register_all", "sources.register_all")
            if "execute_agg" in own:
                self.wrap(cls, "execute_agg", "sources.execute_agg", offered)
            if "execute_topk" in own:
                self.wrap(cls, "execute_topk", "sources.execute_topk", offered)
        for cls in _subclasses(SourceMutator):
            for fn in ("put", "delete_where", "overwrite"):
                if fn in cls.__dict__:
                    self.wrap(cls, fn, f"sources.mutator_{fn}")
        self.wrap(engine_mod, "execute_dml", "dml.execute_dml")
        self.wrap(engine_mod, "execute_source_dml", "dml.execute_source_dml")
        for fn in ("commit", "commit_where", "optimize", "vacuum"):
            self.wrap(TableStore, fn, f"dml.{fn}")
        # Spark's own analysis and catalog work, reached from the engine
        self.wrap_counted(SparkSession, "table", "spark.table", "engine.catalog_lookups",
                          within="engine.sql")
        self.wrap_counted(SparkSession, "sql", "spark.sql", "spark.sql_calls", within="engine.sql")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                     "parent": s.parent, "op": s.op}) + "\n")


def _subclasses(cls) -> list[type]:
    out, stack = [], [cls]
    while stack:
        c = stack.pop()
        out.append(c)
        stack.extend(c.__subclasses__())
    return out


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (children of one span never overlap in a
    single-threaded engine process, but overlaps are merged anyway)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    """Total self time per layer in ms."""
    totals: Counter = Counter()
    for s, t in zip(spans, self_times(spans)):
        totals[s.name.split(".", 1)[0]] += t * 1000
    return dict(totals)


def durations_ms(spans: list[Span], name: str) -> list[float]:
    return [(s.end - s.start) * 1000 for s in spans if s.name == name]
