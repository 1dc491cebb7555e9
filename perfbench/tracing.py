"""In-memory spans around calls into the engine's layers.

``Tracer.install()`` wraps the public functions named in ``LAYERS`` (engine
methods and the operator functions the engine imports inside its methods,
so the wrapped module attribute is what the engine resolves at call time).
Each call records (name, start, end, parent, request id); spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict

# (import path, attribute owner, attribute) — owner None = module function
LAYERS = (
    ("ckanext_extractor_spark.api", "ExtractorEngine", "extract"),
    ("ckanext_extractor_spark.api", "ExtractorEngine", "delete"),
    ("ckanext_extractor_spark.api", "ExtractorEngine", "search"),
    ("ckanext_extractor_spark.api", "ExtractorEngine", "warm"),
    ("ckanext_extractor_spark.api", "ExtractorEngine", "index_stats"),
    ("ckanext_extractor_spark.api", "ExtractorEngine", "lineage"),
    ("ckanext_extractor_spark.operators.segread", None, "read_segment_rows"),
    ("ckanext_extractor_spark.operators.wand", None, "term_postings_from_rows"),
    ("ckanext_extractor_spark.operators.wand", None, "exact_topk"),
    ("ckanext_extractor_spark.operators.wand", None, "maxscore_topk"),
    ("ckanext_extractor_spark.operators.wand", None, "maxscore_topk_lazy"),
    ("ckanext_extractor_spark.operators.wand", None, "wand_topk"),
)

SCORING = ("exact_topk", "maxscore_topk", "maxscore_topk_lazy", "wand_topk")


def span_name(module: str, attr: str) -> str:
    """'ckanext_extractor_spark.operators.wand', 'exact_topk' -> 'wand.exact_topk'."""
    return f"{module.rsplit('.', 1)[-1]}.{attr}"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, request, count]
        self._local = threading.local()
        self._restore: list[tuple] = []
        self._request = 0

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else -1
            if parent < 0:
                tracer._request += 1
            idx = len(tracer.spans)
            rec = [name, time.perf_counter(), 0.0, parent, tracer._request, -1]
            tracer.spans.append(rec)
            stack.append(idx)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec[5] = len(out)
                return out
            finally:
                rec[2] = time.perf_counter()
                stack.pop()

        traced.__wrapped_by_tracer__ = fn
        return traced

    def install(self) -> "Tracer":
        import importlib

        for module, owner, attr in LAYERS:
            mod = importlib.import_module(module)
            target = getattr(mod, owner) if owner else mod
            fn = getattr(target, attr)
            self._restore.append((target, attr, fn))
            setattr(target, attr, self.wrap(span_name(module, attr), fn))
        return self

    def uninstall(self) -> None:
        for target, attr, fn in reversed(self._restore):
            setattr(target, attr, fn)
        self._restore.clear()

    # -- analysis ------------------------------------------------------------
    def mark(self) -> int:
        """Span index to slice the spans recorded after this point."""
        return len(self.spans)

    def summary(self, start: int = 0, end: int | None = None) -> dict:
        """Per span name: calls, total ms, self ms (duration minus the part
        covered by child spans), result count (lists only)."""
        spans = self.spans[start:end]
        child_ms = defaultdict(float)
        has_scoring_child = set()
        for name, s, e, parent, _, _ in spans:
            if parent >= start:
                child_ms[parent] += (e - s) * 1e3
                if name.rsplit(".", 1)[-1] in SCORING:
                    has_scoring_child.add(parent)
        out: dict[str, dict] = {}
        for i, (name, s, e, _, _, count) in enumerate(spans, start):
            d = out.setdefault(
                name, {"calls": 0, "ms": 0.0, "self_ms": 0.0, "items": 0,
                       "no_scoring_child": 0}
            )
            d["calls"] += 1
            d["ms"] += (e - s) * 1e3
            d["self_ms"] += (e - s) * 1e3 - child_ms.get(i, 0.0)
            if count >= 0:
                d["items"] += count
            if i not in has_scoring_child:
                d["no_scoring_child"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, s, e, parent, req, count in self.spans:
                f.write(json.dumps(
                    {"name": name, "start": s, "end": e, "parent": parent,
                     "request": req, "items": count}
                ) + "\n")


def per_call_overhead_s(n: int = 20000) -> float:
    """Cost of one traced call over an untraced one, measured on a no-op."""
    t = Tracer()
    noop = lambda: None  # noqa: E731
    traced = t.wrap("noop", noop)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        t1 = time.perf_counter()
        for _ in range(n):
            traced()
        t2 = time.perf_counter()
        t.spans.clear()
        best = min(best, ((t2 - t1) - (t1 - t0)) / n)
    return max(best, 0.0)
