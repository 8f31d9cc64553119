"""Per-layer metrics of a traced run, computed from its spans, the Spark
status store (joined by job group) and the checkpoint files.

Layer -> span names (see trace.installed):
    session          session.get_spark
    sectionize       CheckpointManager.write("sectionized") - the
                     sectionize plan runs inside the write
    detect           kg_pipeline.detect (clustering, dedup, detection)
    mentions_write   CheckpointManager.write("mentions") - the fan-out
                     join back to every document runs here
    link             kg_pipeline.canonicalize + the entities write;
                     link.lsh = linking.link_surfaces,
                     link.cc = components.canonical_map
    triples          CheckpointManager.write("triples")
    checkpoint       every CheckpointManager.write (each stage's plan
                     executes in it) and CheckpointManager.read
    query            sparql.parse, sparql.sparql (parse + plan) and the
                     collect that executes the plan
"""

from __future__ import annotations

import statistics
from pathlib import Path

import duckdb

from gliner_transbronchialbiopsy_spark.sources.checkpoint import CheckpointManager

from kgbench import trace
from kgbench.queries import TEMPLATES

UNITS = {
    "session.get_spark_s": "s",
    "sectionize.wall_s": "s",
    "sectionize.core_s": "s",
    "sectionize.rows": "count",
    "sectionize.distinct_ratio": "ratio",
    "detect.wall_s": "s",
    "detect.core_s": "s",
    "detect.distinct_texts": "count",
    "detect.mentions": "count",
    "detect.shuffle_write_bytes": "bytes",
    "mentions_write.wall_s": "s",
    "mentions_write.shuffle_read_bytes": "bytes",
    "mentions_write.task_skew": "ratio",
    "link.wall_s": "s",
    "link.lsh_wall_s": "s",
    "link.cc_wall_s": "s",
    "link.surfaces": "count",
    "link.candidate_pairs": "count",
    "link.edges": "count",
    "link.edge_yield": "ratio",
    "triples.wall_s": "s",
    "triples.rows": "count",
    "triples.files": "count",
    "triples.bytes": "bytes",
    "checkpoint.write_s": "s",
    "checkpoint.read_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_utilisation": "ratio",
    "query.parse_ms": "ms",
    "query.plan_ms": "ms",
    "query.exec_ms": "ms",
    "query.input_bytes": "bytes",
    **{f"query.{t}.p50_ms": "ms" for t in TEMPLATES},
    "trace.overhead_s": "s",
}


class _Trace:
    """The spans of one trace id with their Spark stages attached."""

    def __init__(self, tracer: trace.Tracer, trace_id: int, stages: dict):
        self.spans = [s for s in tracer.spans if s["trace"] == trace_id]
        self.by_id = {s["id"]: s for s in self.spans}
        self.stages = stages

    def _top(self, names) -> list[dict]:
        """Spans named in `names` that have no ancestor named in it."""
        out = []
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = self.by_id.get(s["parent"])
            while p is not None and p["name"] not in names:
                p = self.by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def wall(self, *names) -> float:
        return sum(s["end"] - s["start"] for s in self._top(names))

    def stage_list(self, *names) -> list[dict]:
        """Stages of the named spans and of every span below them."""
        ids = {s["id"] for s in self._top(names)} if names else set(self.by_id)
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            ids |= more
            grew = bool(more)
        return [st for i in ids for st in self.stages.get(i, ())]

    def total(self, key: str, *names) -> float:
        return sum(st[key] for st in self.stage_list(*names))

    def attr(self, name: str, key: str) -> int:
        return sum(s["attrs"].get(key, 0) for s in self.spans if s["name"] == name)


def _files(d: Path) -> tuple[int, int]:
    files = [p for p in d.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _sectionized_counts(workdir: Path) -> tuple[int, int]:
    """(distinct contents, distinct contents with a non-empty conclusion)
    in the build's sectionized snapshot; the second is what detect
    runs on."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT count(DISTINCT content_sha256), "
            "count(DISTINCT content_sha256) FILTER (WHERE trim(conclusion) <> '') "
            "FROM read_parquet(?)",
            [f"{workdir}/sectionized/data/**/*.parquet"],
        ).fetchone()
    finally:
        con.close()


def build_layers(tracer, trace_id: int, workdir: Path, wall: float, cpus: int) -> dict:
    """Layer metrics of one traced build."""
    t = _Trace(tracer, trace_id, trace.spark_stages(tracer.sc))
    ckpt = CheckpointManager(workdir)
    rows = {s: ckpt.metrics(s)["rows"] for s in trace.WRITE_LAYER}
    # the fan-out join runs in the write's longest stage (its mention side
    # is broadcast or shuffled, whichever AQE picks)
    fan_out = max(t.stage_list("mentions_write"), key=lambda st: st["run_ms"], default=None)
    skew = (
        _ratio(max(fan_out["task_ms"]), statistics.median(fan_out["task_ms"]))
        if fan_out and fan_out["task_ms"] else 0.0
    )
    candidates, edges = t.attr("link.verify", "candidate_pairs"), t.attr("link.cc", "edges")
    _, triple_bytes = _files(workdir / "triples" / "data")
    files_written, bytes_written = _files(workdir)
    distinct_contents, distinct_texts = _sectionized_counts(workdir)
    return {
        "sectionize.wall_s": t.wall("sectionize"),
        "sectionize.core_s": t.total("run_ms", "sectionize") / 1000,
        "sectionize.rows": rows["sectionized"],
        "sectionize.distinct_ratio": _ratio(distinct_contents, rows["sectionized"]),
        "detect.wall_s": t.wall("detect"),
        "detect.core_s": t.total("run_ms", "detect") / 1000,
        "detect.distinct_texts": distinct_texts,
        "detect.mentions": rows["mentions"],
        "detect.shuffle_write_bytes": t.total("shuffle_write_bytes", "detect"),
        "mentions_write.wall_s": t.wall("mentions_write"),
        "mentions_write.shuffle_read_bytes": t.total("shuffle_read_bytes", "mentions_write"),
        "mentions_write.task_skew": skew,
        "link.wall_s": t.wall("link", "link.write"),
        "link.lsh_wall_s": t.wall("link.lsh"),
        "link.cc_wall_s": t.wall("link.cc"),
        "link.surfaces": rows["entities"],
        "link.candidate_pairs": candidates,
        "link.edges": edges,
        "link.edge_yield": _ratio(edges, candidates),
        "triples.wall_s": t.wall("triples"),
        "triples.rows": rows["triples"],
        "triples.files": sum(1 for _ in (workdir / "triples" / "data").rglob("*.parquet")),
        "triples.bytes": triple_bytes,
        "checkpoint.write_s": t.wall(*trace.WRITE_LAYER.values()),
        "checkpoint.bytes_written": bytes_written,
        "checkpoint.files_written": files_written,
        "spark.shuffle_write_bytes": t.total("shuffle_write_bytes"),
        "spark.spill_bytes": t.total("spill_bytes"),
        "spark.core_utilisation": _ratio(t.total("run_ms") / 1000, wall * cpus),
    }


def run_layers(bench) -> dict:
    """All per-layer metrics of a traced run: medians over its traced
    builds and queries, plus set-up, resume and tracing overhead."""
    tracer = bench.tracer
    stages = trace.spark_stages(tracer.sc)
    traced = [b for b in bench.builds if b["traced"]]
    plain = [b for b in bench.builds if not b["traced"]]
    out = {
        k: statistics.median([b["layers"][k] for b in traced])
        for k in traced[0]["layers"]
    } if traced else {}
    out["session.get_spark_s"] = sum(
        s["end"] - s["start"] for s in tracer.spans if s["name"] == "session"
    )
    reads = [_Trace(tracer, r["trace"], stages).wall("checkpoint")
             for r in bench.resumes if r["traced"]]
    if reads:
        out["checkpoint.read_s"] = statistics.median(reads)
    per_query = []
    for _, _, trace_id in bench.queries:
        q = _Trace(tracer, trace_id, stages)
        parse = q.wall("query.parse")
        per_query.append((
            parse, q.wall("query.plan") - parse, q.wall("query.exec"),
            q.total("input_bytes"),
        ))
    for i, key in enumerate(("query.parse_ms", "query.plan_ms", "query.exec_ms")):
        out[key] = statistics.median([p[i] for p in per_query]) * 1000
    out["query.input_bytes"] = statistics.median([p[3] for p in per_query])
    for t in TEMPLATES:
        out[f"query.{t}.p50_ms"] = statistics.median(bench.latencies_ms(t))
    out["trace.overhead_s"] = (
        statistics.median([b["wall_s"] for b in traced])
        - statistics.median([b["wall_s"] for b in plain])
        if traced and plain else 0.0
    )
    return {k: out.get(k, 0.0) for k in UNITS}
