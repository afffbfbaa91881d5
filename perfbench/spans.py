"""Outside-in layer trace: timing wrappers installed from the
benchmark's own files, around the public functions of each layer.

Nothing in the package is edited. Each wrapped callable is replaced
on its owner (module or class) for the traced run only and restored
afterwards. Plan modules, ``sources`` and ``zonemaps`` are looked up
by module attribute at call time by their callers, so replacing the
module attribute catches every call.

Spans live in memory (name, start, end, parent, op, root, thread,
error class) and are written out as JSON lines when the run ends.
A span's parent is the innermost open span on the same thread;
``root`` is the outermost ``engine.sql`` span it runs under, which
ties planner and Spark spans to the query they served even inside
``Engine.sql_many``'s worker threads.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

RULES = ["agg_pushdown", "star_pushdown", "mv_rewrite", "topk_pushdown", "zonemap_pushdown"]

# rule -> public functions the engine calls on that rule's module
RULE_FUNCS = {
    "agg_pushdown": ["extract_scalar_agg", "extract_grouped_agg",
                     "build_agg_frame", "build_group_agg_frame"],
    "star_pushdown": ["extract_star_group", "build_star_frame"],
    "mv_rewrite": ["try_rewrite"],
    "topk_pushdown": ["extract_topk", "plan_topk_files"],
    "zonemap_pushdown": ["scan_constraints", "join_dim_constraints",
                         "merge_dim_constraint", "plan_pruned_files",
                         "join_scan_tables"],
}

# DataFrame actions that run Spark jobs and return to the driver
ACTIONS = ["collect", "count", "toPandas", "take", "first", "head", "toLocalIterator"]


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    root: int | None = None
    op: int | None = None
    thread: int = 0
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Span recorder plus the wrapper installer. One per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op: int | None) -> None:
        """Tag spans opened on this thread with the primary op id."""
        self._tls.op = op

    def open(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            self._next += 1
            sid = self._next
        root = parent.root if parent is not None else None
        sp = Span(sid, name, time.perf_counter(),
                  parent=parent.sid if parent else None,
                  op=getattr(self._tls, "op", None),
                  thread=threading.get_ident())
        sp.root = sid if (name == "engine.sql" and root is None) else root
        st.append(sp)
        return sp

    def close(self, sp: Span, error: BaseException | None = None) -> None:
        sp.end = time.perf_counter()
        if error is not None:
            sp.error = type(error).__name__
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    # -- wrappers ------------------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str,
             on_result: Callable[[Span, Any], None] | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. A call
        re-entering the same span name on the same thread (first() ->
        take() -> collect()) is passed through without a new span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if cur is not None and cur.name == name:
                return orig(*args, **kwargs)
            sp = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException as e:
                tracer.close(sp, e)
                raise
            if on_result is not None:
                on_result(sp, out)
            tracer.close(sp)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from pyspark.sql import SparkSession

        try:  # Spark 4: sessions build the classic subclass, which overrides the actions
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from quack_reduce_spark import session, sources
        from quack_reduce_spark.engine import Engine
        from quack_reduce_spark.operators import zonemaps
        from quack_reduce_spark.plans import (
            agg_pushdown, mv_rewrite, star_pushdown, topk_pushdown,
            zonemap_pushdown,
        )

        mods = {"agg_pushdown": agg_pushdown, "star_pushdown": star_pushdown,
                "mv_rewrite": mv_rewrite, "topk_pushdown": topk_pushdown,
                "zonemap_pushdown": zonemap_pushdown}
        self.wrap(session, "get_spark", "session.start")
        self.wrap(sources, "read_table", "sources.read")
        self.wrap(sources, "read_parquet_table", "sources.read")
        self.wrap(Engine, "sql", "engine.sql", on_result=_annotate_envelope)
        self.wrap(Engine, "sql_many", "engine.sql_many")
        self.wrap(Engine, "register", "engine.register")
        self.wrap(Engine, "refresh_materialized_view", "engine.mv_refresh")
        self.wrap(Engine, "create_materialized_view", "engine.mv_create")
        self.wrap(SparkSession, "sql", "spark.analysis")
        for a in ACTIONS:
            self.wrap(DataFrame, a, "spark.exec")
        for rule, funcs in RULE_FUNCS.items():
            for f in funcs:
                self.wrap(mods[rule], f, f"plans.{rule}")
        self.wrap(zonemaps, "prune_files_multi", "zonemaps.prune")
        self.wrap(zonemaps, "prune_files", "zonemaps.prune")
        self.wrap(zonemaps, "append_zonemap", "zonemaps.append")
        self.wrap(zonemaps, "write_zonemap", "zonemaps.build")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "root": s.root, "op": s.op,
                    "thread": s.thread, "error": s.error, **s.attrs,
                }) + "\n")


def _annotate_envelope(sp: Span, res: Any) -> None:
    """Record, from the returned envelope, what the query did: cache
    hit or miss, which rules fired, files read of files total."""
    md = getattr(res, "metadata", None) or {}
    rc = md.get("result_cache") or {}
    sp.attrs["hit"] = bool(rc.get("hit"))
    fired: set[str] = set()
    read = total = 0
    for rep in (md.get("zonemap") or {}).values():
        if "agg_pushdown" in rep:
            fired.add("agg_pushdown")
        if "star_pushdown" in rep:
            fired.add("star_pushdown")
        if "mv_rewrite" in rep:
            fired.add("mv_rewrite")
        if "topk" in rep:
            fired.add("topk_pushdown")
        if "files_read" in rep and "files_total" in rep:
            read += int(rep["files_read"])
            total += int(rep["files_total"])
            if not fired & {"agg_pushdown", "star_pushdown", "topk_pushdown"} and (
                rep["files_read"] < rep["files_total"] or "dpp" in rep
            ):
                fired.add("zonemap_pushdown")
    sp.attrs["fired"] = sorted(fired)
    sp.attrs["files_read"] = read
    sp.attrs["files_total"] = total


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


def layer_metrics(spans: list[Span], n_ops: int, n_setups: int) -> dict[str, float]:
    """Reduce spans to the per-layer metrics (see perfbench/METHOD.md for
    each metric's definition and the end-to-end metric it should move)."""
    ops = max(1, n_ops)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def total(name: str) -> float:
        return sum(s.ms for s in by_name.get(name, []))

    def med(name: str) -> float:
        v = sorted(s.ms for s in by_name.get(name, []))
        return v[len(v) // 2] if v else 0.0

    sqls = by_name.get("engine.sql", [])
    planned = [s for s in sqls if not s.attrs.get("hit")]
    hits = len(sqls) - len(planned)
    self_ms = 0.0
    coverage = []
    for s in sqls:
        kids = children.get(s.sid, [])
        covered = _union_ms([(k.start, k.end) for k in kids])
        self_ms += s.ms - covered
        if s.ms > 0 and not s.attrs.get("hit"):
            coverage.append(covered / s.ms)
    m: dict[str, float] = {
        "session.start_s": med("session.start") / 1000.0,
        "sources.read_calls": len(by_name.get("sources.read", [])) / ops,
        "sources.read_ms": total("sources.read") / ops,
        "engine.sql_ms": med("engine.sql"),
        "engine.self_ms": self_ms / ops,
        "engine.cache_hits": float(hits),
        "engine.cache_misses": float(len(planned)),
        "engine.cache_hit_ratio": hits / len(sqls) if sqls else 0.0,
        "engine.register_ms": med("engine.register"),
        "engine.mv_refresh_ms": med("engine.mv_refresh"),
        "spark.analysis_ms": total("spark.analysis") / ops,
        "spark.analyses_per_op": len(by_name.get("spark.analysis", [])) / ops,
        "spark.exec_ms": total("spark.exec") / ops,
        "zonemaps.prune_ms": total("zonemaps.prune") / ops,
        "zonemaps.append_ms": med("zonemaps.append"),
        "zonemaps.build_ms": total("zonemaps.build") / max(1, n_setups),
        # share of a planned query's wall time its plans and spark
        # child spans account for (median over queries)
        "trace.child_coverage": (
            sorted(coverage)[len(coverage) // 2] if coverage else 0.0
        ),
    }
    read = sum(s.attrs.get("files_read", 0) for s in planned)
    tot = sum(s.attrs.get("files_total", 0) for s in planned)
    m["zonemaps.files_read_ratio"] = read / tot if tot else 1.0
    for rule in RULES:
        rs = by_name.get(f"plans.{rule}", [])
        roots = {s.root for s in rs if s.root is not None}
        attempts = len(roots)
        fired = sum(1 for s in planned if rule in s.attrs.get("fired", ()))
        m[f"plans.{rule}.attempts"] = float(attempts)
        m[f"plans.{rule}.fired"] = float(fired)
        m[f"plans.{rule}.fire_ratio"] = fired / attempts if attempts else 0.0
        # inclusive time of the outermost rule spans (a rule function
        # calling another function of the same rule counts once)
        m[f"plans.{rule}.ms"] = sum(s.ms for s in rs) / ops
        m[f"plans.{rule}.raised"] = float(sum(1 for s in rs if s.error))
    return m
