"""Spans recorded around calls into the engine's public functions.

The traced run replaces selected functions with wrappers from this file
(the engine itself is untouched); each call records a span with its name,
start, end, parent span and operation id.  Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_op(self, op: str | None) -> None:
        """Operation id stamped on spans opened by this thread."""
        self._local.op = op

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "op": getattr(self._local, "op", None),
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module function, method or
        staticmethod) by a recording wrapper.  ``on_result`` may add
        counters to the span from the call's arguments and result."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        static = isinstance(orig, staticmethod)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, **_tier_attr(kwargs)) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    rec.update(on_result(args, kwargs, out))
                return out

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def _tier_attr(kwargs) -> dict:
    return {"tier": kwargs["tier"]} if "tier" in kwargs else {}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of one
    span run on the caller's thread, so they never overlap each other)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {
        s["id"]: (s["end"] - s["start"]) - child[s["id"]]
        for s in spans
        if s["end"] is not None
    }


def summarize(spans: list[dict], key=lambda s: s["name"]) -> dict:
    """Per key: call count, total and mean wall ms, total self ms."""
    selfs = self_times(spans)
    out: dict = {}
    for s in spans:
        if s["end"] is None:
            continue
        k = key(s)
        agg = out.setdefault(k, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        agg["calls"] += 1
        agg["total_ms"] += (s["end"] - s["start"]) * 1e3
        agg["self_ms"] += selfs[s["id"]] * 1e3
    for agg in out.values():
        agg["mean_ms"] = agg["total_ms"] / agg["calls"]
    return out


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark drives."""
    from vector_search_engine_spark.operators import dedup, knn, retrieval, text_ops
    from vector_search_engine_spark.operators.ivf import IVFIndex
    from vector_search_engine_spark.streaming import engine as engine_mod
    from vector_search_engine_spark.streaming.engine import VectorEngine

    def probes(args, kwargs, out):
        qids = args[1]
        return {"pairs": len(out), "queries": len(qids)}

    for attr in ("insert", "delete", "compact", "maybe_compact"):
        tracer.wrap(VectorEngine, attr, f"engine.{attr}")
    tracer.wrap(VectorEngine, "search", "engine.search.plan")
    tracer.wrap(IVFIndex, "build", "ivf.build")
    for attr, name in (
        ("search", "ivf.search"),
        ("search_sq8", "ivf.search_sq8"),
        ("search_pq", "ivf.search_pq"),
        ("search_distributed", "ivf.search_distributed"),
        ("vectors", "ivf.vectors"),
        ("ensure_sq8", "ivf.ensure_sq8"),
        ("ensure_pq", "ivf.ensure_pq"),
    ):
        tracer.wrap(IVFIndex, attr, name)
    tracer.wrap(IVFIndex, "probe_pairs", "ivf.probe_pairs", on_result=probes)
    # the engine module imported knn_exact by name: wrap both bindings
    tracer.wrap(knn, "knn_exact", "knn.knn_exact")
    tracer.wrap(engine_mod, "knn_exact", "knn.knn_exact")
    tracer.wrap(retrieval, "bm25_topk", "retrieval.bm25_topk")
    tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs")
    tracer.wrap(text_ops, "text_curation_pipeline", "text_ops.text_curation_pipeline")
