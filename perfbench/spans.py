"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side only: :class:`Tracer`
replaces each traced public function of the package with a wrapper —
in every loaded module that holds a reference to it — for the length
of the traced run. The wrapper opens a span, calls the function,
forces the lazy result at the span boundary (so the work lands inside
the span that asked for it) and closes the span. The span id is set as
the Spark job group of the calling thread, and after the session stops
the Spark event log attributes jobs, tasks, task time and shuffle
bytes to spans. Jobs a streaming query runs on its own thread carry
the query id instead; they go to the span that started the query.

Spans live in memory (:attr:`Tracer.spans`) and are written out once,
at the end (:meth:`Tracer.dump`).
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PKG = "graphragpart1datapipeline_spark"

# the traced functions: "<layer>.<function>" -> (defining module, attribute)
TRACED = {
    "session.get_spark": ("session", "get_spark"),
    "sources.read_table": ("sources.io", "read_table"),
    "dedup.exact_dedup": ("dedup.exact", "exact_dedup"),
    "text.split_sections": ("text.sections", "split_sections"),
    "text.recursive_split_chunks": ("text.chunking", "recursive_split_chunks"),
    "graph.detect_communities": ("graph.communities", "detect_communities"),
    "graph.community_rollup": ("graph.communities", "community_rollup"),
    "text.generate_with": ("text.llm", "generate_with"),
    "text.bm25_index": ("text.bm25_index", "bm25_index"),
    "vector.ivf_build_index": ("vector.search", "ivf_build_index"),
    "text.bm25_query": ("text.bm25_index", "bm25_query"),
    "vector.ivf_topk": ("vector.search", "ivf_topk"),
    "vector.rrf_fuse": ("vector.search", "rrf_fuse"),
    "vector.cosine_topk": ("vector.search", "cosine_topk"),
    "text.fixed_stride_chunks": ("text.chunking", "fixed_stride_chunks"),
    "text.stitch_context": ("text.chunking", "stitch_context"),
    "streaming.stream_maintenance": ("streaming.maintenance", "stream_maintenance"),
    "streaming.read_maintenance_state": (
        "streaming.maintenance",
        "read_maintenance_state",
    ),
}
# outputs left lazy at the span boundary: a session, a read-back of
# what the call already wrote, or a bundle of table handles that only
# the next (traced) query reads in part
NO_FORCE = frozenset(
    {"session.get_spark", "vector.ivf_build_index", "streaming.read_maintenance_state"}
)
# spanned by the benchmark around the forced use, not by a wrapper:
# hash_embed returns a Column (no work until a plan runs it), and
# Pipeline.run is a method
EXPLICIT = ("vector.hash_embed", "plans.Pipeline.run")
LAYERS = tuple(sorted(TRACED) + sorted(EXPLICIT))
FIELDS = ("wall_s", "self_s", "spark_jobs", "tasks", "task_s", "shuffle_mb")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.spark = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.stream_spans: dict[str, int] = {}  # streaming query id -> span

    # -- spans ---------------------------------------------------------

    def active(self) -> bool:
        return getattr(self._local, "enabled", True)

    @contextmanager
    def enabled(self, flag: bool):
        """Turn tracing on or off for the calling thread (the traced run
        alternates traced and untraced ops to measure the overhead)."""
        prev = self.active()
        self._local.enabled = flag
        try:
            yield
        finally:
            self._local.enabled = prev

    def _stack(self) -> list[tuple[int, int | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None if span_id is None else f"pb{span_id}"
            )

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one span. ``op`` groups the spans of one benchmark
        operation (a query, a fold, a build); children inherit it."""
        if not self.active():
            yield None
            return
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        op = op if op is not None else parent_op
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, op))
        self._set_group(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1][0] if stack else None)
            with self._lock:
                self.spans.append(Span(sid, name, parent, op, start, end))

    # -- wrapping ------------------------------------------------------

    def install(self) -> None:
        """Wrap every function in :data:`TRACED`, wherever a loaded
        module of the package refers to it."""
        for name, (mod, attr) in TRACED.items():
            fn = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            wrapped = self._wrap(name, fn)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if not (mname == PKG or mname.startswith(PKG + ".")):
                    continue
                for key, val in list(vars(m).items()):
                    if val is fn:
                        self._patched.append((m, key, fn))
                        setattr(m, key, wrapped)

    def uninstall(self) -> None:
        for m, key, fn in reversed(self._patched):
            setattr(m, key, fn)
        self._patched.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active():
                return fn(*args, **kwargs)
            with tracer.span(name) as sid:
                out = fn(*args, **kwargs)
                if name == "session.get_spark":
                    tracer.spark = out
                if hasattr(out, "awaitTermination"):  # a StreamingQuery
                    tracer.stream_spans[str(out.id)] = sid
                return out if name in NO_FORCE else force(out)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # -- output --------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def force(out):
    """Materialize a lazy result so its work runs now: DataFrames are
    local-checkpointed (later readers reuse the blocks), dicts of
    DataFrames each, a streaming query is awaited."""
    from pyspark.sql import DataFrame
    from pyspark.sql.streaming import StreamingQuery

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, dict):
        return {k: force(v) for k, v in out.items()}
    if isinstance(out, StreamingQuery):
        out.awaitTermination()
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover
    (children of one parent may overlap when threads share a parent,
    so covered time is the union of child intervals)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            cs, ce = max(c.start, s.start), min(c.end, s.end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = (s.end - s.start) - covered
    return out


def read_event_log(
    log_dir: str, stream_spans: dict[str, int] | None = None
) -> dict[int, dict[str, float]]:
    """Per-span Spark work from the event log: {span id: {spark_jobs,
    tasks, task_s, shuffle_mb}}. A job belongs to the span whose id was
    the job group of the submitting thread, or, for a streaming query's
    job, to the span in ``stream_spans`` that started the query; a stage
    to the first job that lists it; a task to its stage. ``task_s`` is
    executor run time; ``shuffle_mb`` is shuffle bytes written plus
    read, in MB."""
    stream_spans = stream_spans or {}
    stage_span: dict[int, int] = {}
    work: dict[int, dict[str, float]] = defaultdict(
        lambda: {"spark_jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0}
    )
    paths = sorted(
        os.path.join(d, name)
        for d, _, names in os.walk(log_dir)
        for name in names
        if not name.startswith(".") and not name.startswith("appstatus")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    if group.startswith("pb"):
                        sid = int(group[2:])
                    elif props.get("sql.streaming.queryId") in stream_spans:
                        sid = stream_spans[props["sql.streaming.queryId"]]
                    else:
                        continue
                    work[sid]["spark_jobs"] += 1
                    for st in ev.get("Stage IDs", ()):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    nbytes = (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    w = work[sid]
                    w["tasks"] += 1
                    w["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    w["shuffle_mb"] += nbytes / 1e6
    return dict(work)


def layer_metrics(spans: list[Span], work: dict[int, dict[str, float]]) -> dict:
    """Roll spans up per layer: wall and self seconds summed over the
    layer's spans, Spark work summed over each span and its
    descendants. Nested spans of the same layer count once (outermost)."""
    by_id = {s.id: s for s in spans}
    selft = self_times(spans)
    inclusive: dict[int, dict[str, float]] = defaultdict(
        lambda: {"spark_jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0}
    )
    for sid, w in work.items():
        cur = sid
        while cur is not None and cur in by_id:
            for k, v in w.items():
                inclusive[cur][k] += v
            cur = by_id[cur].parent
    out = {layer: dict.fromkeys(FIELDS, 0.0) for layer in LAYERS}
    for s in spans:
        if s.name not in out:
            continue
        anc, nested = s.parent, False
        while anc is not None:
            if by_id[anc].name == s.name:
                nested = True
                break
            anc = by_id[anc].parent
        if nested:
            continue
        m = out[s.name]
        m["wall_s"] += s.end - s.start
        m["self_s"] += selft[s.id]
        for k, v in inclusive.get(s.id, {}).items():
            m[k] += v
    return out
