"""Span recorder for the traced run, installed from outside the package.

``installed(tracer)`` wraps the public layer functions in place and
restores them on exit; ``run_pipeline`` and ``sparql`` are then called
unchanged. Each wrapper records a span (name, start, end, parent, trace
id) and tags every Spark job it launches with a job group named after
the span, so ``spark_stages`` can join the status store's per-stage
metrics back to the span that caused them. The status store is filled
with the UI disabled, which is how ``session.get_spark`` configures it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from pathlib import Path

from gliner_transbronchialbiopsy_spark import session
from gliner_transbronchialbiopsy_spark.operators import components, linking, sparql
from gliner_transbronchialbiopsy_spark.plans import kg_pipeline
from gliner_transbronchialbiopsy_spark.sources.checkpoint import CheckpointManager

GROUP_PREFIX = "kgbench-span-"
# checkpoint stage -> the layer whose lazy plan executes inside its write
WRITE_LAYER = {
    "sectionized": "sectionize",
    "mentions": "mentions_write",
    "entities": "link.write",
    "triples": "triples",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, once the session exists
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._trace_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid, "trace": self._trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "attrs": attrs,
        }
        sc = self.sc
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(rec)

    @contextlib.contextmanager
    def trace(self, name: str, **attrs):
        """A root span with a fresh trace id (one per build or query)."""
        outer, self._trace_id = self._trace_id, next(self._traces)
        try:
            with self.span(name, **attrs) as rec:
                yield rec
        finally:
            self._trace_id = outer

    def write(self, path: Path) -> None:
        """One JSON line per span, with its self time added."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps({**rec, "self_s": self_time(rec, self.spans)}) + "\n")


def _wrap(tracer: Tracer, fn, name_of, count=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name_of(args, kwargs)) as rec:
            if count is not None:
                rec["attrs"].update(count(args, kwargs))
            return fn(*args, **kwargs)

    return wrapper


def _stage_arg(args, kwargs):
    return kwargs["stage"] if "stage" in kwargs else args[1]


def _const(name):
    return lambda args, kwargs: name


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the layer entry points for the duration of the block."""
    patches = [
        (session, "get_spark", _const("session"), None),
        (kg_pipeline, "detect", _const("detect"), None),
        (kg_pipeline, "canonicalize", _const("link"), None),
        (linking, "link_surfaces", _const("link.lsh"), None),
        # candidate pairs arrive materialized, so counting them is cheap
        (linking, "verified_edges", _const("link.verify"),
         lambda a, k: {"candidate_pairs": a[0].count()}),
        (components, "canonical_map", _const("link.cc"),
         lambda a, k: {"edges": a[0].count()}),
        (CheckpointManager, "write",
         lambda a, k: WRITE_LAYER.get(_stage_arg(a, k), "checkpoint.write"), None),
        (CheckpointManager, "read", _const("checkpoint"), None),
        (sparql, "parse", _const("query.parse"), None),
        (sparql, "sparql", _const("query.plan"), None),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in patches]
    try:
        for owner, attr, name_of, count in patches:
            setattr(owner, attr, _wrap(tracer, getattr(owner, attr), name_of, count))
        yield tracer
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


def spark_stages(sc) -> dict[int, list[dict]]:
    """Per-span Spark stage metrics from the status store: span id ->
    one dict per stage its jobs ran (a stage reused by a later job is
    credited to the first job that lists it)."""
    store = sc._jsc.sc().statusStore()
    owner: dict[int, int] = {}
    for job in sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId()):
        group = _opt(job.jobGroup())
        if group and group.startswith(GROUP_PREFIX):
            for sid in _seq(job.stageIds()):
                owner.setdefault(sid, int(group[len(GROUP_PREFIX):]))
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    out: dict[int, list[dict]] = {}
    for st in _seq(store.stageList(None, False, False, empty, None)):
        span = owner.get(st.stageId())
        if span is None or str(st.status()) != "COMPLETE":
            continue
        tasks = [_opt(t.duration()) for t in _seq(store.taskList(st.stageId(), st.attemptId(), 100_000))]
        out.setdefault(span, []).append({
            "stage": st.stageId(),
            "run_ms": st.executorRunTime(),
            "input_bytes": st.inputBytes(),
            "output_bytes": st.outputBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "task_ms": [t for t in tasks if t is not None],
        })
    return out


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the union of its children's intervals."""
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered
