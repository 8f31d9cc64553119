"""One benchmark run: set-up, build+resume reps, query rounds.

Builds go through the unmodified ``plans.kg_pipeline.run_pipeline``
and queries through ``operators.sparql.sparql``; the tracer (traced
runs only) wraps the layer functions from outside (kgbench/trace.py).
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
from pyspark import SparkContext

from gliner_transbronchialbiopsy_spark import session
from gliner_transbronchialbiopsy_spark.operators import sparql
from gliner_transbronchialbiopsy_spark.plans import kg_pipeline

from kgbench import inputs, layers, queries, stats, trace

# The workloads and why each exists are listed in BENCHMARK.json.
WORKLOADS = {
    "build_open_vocab": "open_vocab",
    "build_dup_heavy": "dup_heavy",
}
# A build costs ~3-7 s of per-job overhead plus ~0.7 s per 1000 rows on
# a 4-core host, so 1000 rows keeps the set-up, two build+resume reps
# and the query rounds within about a minute per run.
BUILD_ROWS = 1000
WARMUP_ROWS = 200
WARMUP_SEED_OFFSET = 1_000_003  # the warm-up slice never shares the measured input
# Each round issues every template once, in a seeded order; a
# template's latency is its median over the rounds.
QUERY_ROUNDS = 4
# build+resume reps per run, at least; a traced run alternates untraced
# and traced reps, and untraced-traced-untraced keeps JIT warming from
# biasing the overhead estimate either way
MIN_REPS = 2
MIN_TRACED_REPS = 3
MIN_PR = 0.95
END_TO_END = {
    "setup_s": "s", "build_s": "s", "triples_per_s": "1/s", "resume_s": "s",
    **{f"query_{t}_p50_ms": "ms" for t in queries.TEMPLATES},
    "peak_rss_mb": "MB",
}


class Bench:
    def __init__(self, state: Path, workload: str, seed: int, seconds: float,
                 tracing: bool, spark_conf: dict):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.spark_conf = spark_conf
        self.cpus = len(os.sched_getaffinity(0))  # what nproc reports
        self.tracer = trace.Tracer() if tracing else None
        shape = WORKLOADS[workload]
        cache = state / "cache"
        self.input_dir = inputs.prepare(cache, shape, BUILD_ROWS, seed)
        self.warm_dir = inputs.prepare(cache, shape, WARMUP_ROWS, seed + WARMUP_SEED_OFFSET)
        docs, gold, self.meta = inputs.load(self.input_dir)
        self.gold = inputs.gold_set(gold)
        self.shas = inputs.content_shas(docs)
        self.work = state / "work" / str(os.getpid())
        self.spans_file = state / "spans" / f"{workload}-seed{seed}-{os.getpid()}.jsonl"
        self.attempted = self.failed = 0
        self.builds: list[dict] = []
        self.resumes: list[dict] = []
        self.queries: list[tuple] = []
        self.phases: dict[str, float] = {}
        self.rss = stats.RssSampler()
        self.spark = None

    # -- helpers -----------------------------------------------------------

    def _traced(self, on: bool):
        """Layer wrappers installed for the block (traced runs only)."""
        return trace.installed(self.tracer) if on and self.tracer else contextlib.nullcontext()

    def _root(self, on: bool, name: str, **attrs):
        """A root span yielding its record, or None when not tracing."""
        return self.tracer.trace(name, **attrs) if on and self.tracer else contextlib.nullcontext()

    def _fail(self, what: str, detail) -> None:
        self.failed += 1
        print(f"kgbench: FAILED {what}: {detail}", file=sys.stderr)

    def _build(self, input_dir: Path, workdir: Path):
        docs = self.spark.read.parquet(str(input_dir / "documents.parquet"))
        return kg_pipeline.run_pipeline(self.spark, docs, str(workdir))

    def _score(self, workdir: Path) -> dict:
        """P/R against the carried gold and the lineage invariant, read
        from the triples snapshot with DuckDB, outside any timing."""
        con = duckdb.connect()
        try:
            rows = con.execute(
                "SELECT path, pred, obj, content_sha256 FROM read_parquet(?, hive_partitioning = true)",
                [f"{workdir}/triples/data/**/*.parquet"],
            ).fetchall()
        finally:
            con.close()
        got = {(p, pred, o.lower()) for p, pred, o, _ in rows}
        tp = len(got & self.gold)
        return {
            "triples": len(rows),
            "precision": tp / len(got) if got else 0.0,
            "recall": tp / len(self.gold) if self.gold else 0.0,
            "lineage_ok": all(self.shas.get(p) == sha for p, _, _, sha in rows),
        }

    def _check_build(self, what: str, score: dict, want_triples: int | None = None) -> None:
        """Count one attempt and at most one failure: P/R, lineage, and
        for a resume the triple count of the build it resumes."""
        self.attempted += 1
        if score["precision"] < MIN_PR or score["recall"] < MIN_PR:
            self._fail(what, f"precision {score['precision']:.4f} recall {score['recall']:.4f}")
        elif not score["lineage_ok"]:
            self._fail(what, "content_sha256 lineage invariant broken")
        elif want_triples is not None and score["triples"] != want_triples:
            self._fail(what, f"{score['triples']} triples, the full build had {want_triples}")

    def _timed_build(self, kind: str, rep: int, traced: bool, workdir: Path,
                     want_triples: int | None = None):
        """One build or resume into `workdir`, timed and scored: (wall
        seconds, score, trace id) or None when it raised (counted as failed)."""
        what = f"{kind} {rep}"
        try:
            with self._traced(traced), self._root(traced, kind, rep=rep) as root:
                t0 = time.perf_counter()
                self.triples = self._build(self.input_dir, workdir)
                wall = time.perf_counter() - t0
            score = self._score(workdir)
        except Exception as e:  # noqa: BLE001 - a failed build is counted; the run goes on
            self.attempted += 1
            self._fail(what, repr(e))
            return None
        self._check_build(what, score, want_triples)
        return wall, score, root["trace"] if root else None

    # -- phases ------------------------------------------------------------

    def setup(self) -> None:
        """Session start plus one warm-up build and query round on a
        small slice, so JIT and Python-worker warm-up land here."""
        t0 = time.perf_counter()
        with self._traced(True), self._root(True, "setup"):
            self.spark = session.get_spark("kgbench", cpus=self.cpus, extra_conf=self.spark_conf)
            if self.tracer:
                self.tracer.sc = self.spark.sparkContext
            wd = self.work / "warmup"
            triples = self._build(self.warm_dir, wd)
            self._query_rounds(triples, wd, 1, timed=False)
        self.setup_s = time.perf_counter() - t0
        shutil.rmtree(wd, ignore_errors=True)

    def build_phase(self) -> None:
        """Reps of a fresh full build in a new workdir followed by a
        resume of it, while the next rep is expected to end within
        `seconds` (at least the minimum). A resume reruns the build after
        deleting the snapshots written after detection, as a run killed
        after detect leaves it."""
        t0 = time.perf_counter()
        least = MIN_TRACED_REPS if self.tracer else MIN_REPS
        rep, longest = 0, 0.0
        while rep < least or time.perf_counter() - t0 + longest <= self.seconds:
            # when tracing, odd reps are traced and even reps are not; the
            # difference of their build medians is the tracing overhead
            traced = bool(self.tracer) and rep % 2 == 1
            wd = self.work / f"build{rep}"
            r0 = time.perf_counter()
            built = self._timed_build("build", rep, traced, wd)
            if built is not None:
                wall, score, trace_id = built
                rec = {"wall_s": wall, "traced": traced, "workdir": wd, **score}
                if traced:
                    rec["layers"] = layers.build_layers(
                        self.tracer, trace_id, wd, wall, self.cpus
                    )
                # the snapshots a run killed after detection has not written
                for stage in ("entities", "triples"):
                    shutil.rmtree(wd / stage, ignore_errors=True)
                resumed = self._timed_build("resume", rep, traced, wd, score["triples"])
                if resumed is not None:
                    r_wall, _, r_trace = resumed
                    self.resumes.append({"wall_s": r_wall, "traced": traced, "trace": r_trace})
                if self.builds:
                    shutil.rmtree(self.builds[-1]["workdir"], ignore_errors=True)
                self.builds.append(rec)
            else:
                shutil.rmtree(wd, ignore_errors=True)
            longest = max(longest, time.perf_counter() - r0)
            rep += 1
        if not self.builds:
            raise RuntimeError("no build completed")

    def _query_rounds(self, triples, workdir: Path, rounds: int, timed: bool) -> list[tuple]:
        """Run the query rounds; DuckDB answers are computed first,
        outside the timed loop. Only timed queries are counted and checked."""
        con = queries.connect(str(workdir / "triples" / "data"))
        try:
            batch = queries.draw(con, self.seed, rounds)
            expected = [queries.answer(con, q) for q in batch]
        finally:
            con.close()
        out = []
        for q, exp in zip(batch, expected):
            if timed:
                self.attempted += 1
            try:
                with self._root(timed, "query", template=q.template) as root:
                    t0 = time.perf_counter()
                    df = sparql.sparql(triples, q.sparql)
                    with self.tracer.span("query.exec") if root else contextlib.nullcontext():
                        rows = df.collect()
                    lat = time.perf_counter() - t0
                ok = queries.normalize(rows, q.ordered) == exp
            except Exception as e:  # noqa: BLE001 - a failed query counts as failed
                lat, ok, rows = math.inf, False, repr(e)
            if timed and not ok:
                self._fail(f"query {q.template}", f"{q.sparql!r} -> {rows!r}, expected {exp!r}")
            out.append((q.template, lat, root["trace"] if root else None))
        return out

    def query_phase(self) -> None:
        with self._traced(True):
            self.queries = self._query_rounds(
                self.triples, self.builds[-1]["workdir"], QUERY_ROUNDS, timed=True
            )

    def measure(self) -> None:
        """A traced run's layer metrics, taken while Spark is still up."""
        if self.tracer:
            self.layer_metrics = layers.run_layers(self)

    def close(self) -> None:
        """Stop Spark and its JVM, wait until they have exited, and
        remove the workdirs; runs on failure too."""
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            # the gateway JVM exits when its stdin closes; its Python workers follow
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)
        if self.tracer:
            self.tracer.write(self.spans_file)

    def run(self) -> None:
        """All phases in order; each phase's wall time lands in `phases`.
        The resident-set sampler covers every phase."""
        steal0, total0 = stats.cpu_ticks()
        self.rss.start()
        try:
            for phase in (self.setup, self.build_phase, self.query_phase, self.measure):
                t0 = time.perf_counter()
                phase()
                self.phases[phase.__name__] = round(time.perf_counter() - t0, 3)
        finally:
            self.rss.stop()
            t0 = time.perf_counter()
            self.close()
            self.phases["close"] = round(time.perf_counter() - t0, 3)
        steal1, total1 = stats.cpu_ticks()
        self.steal_share = (steal1 - steal0) / max(total1 - total0, 1)

    # -- results -----------------------------------------------------------

    def latencies_ms(self, template: str) -> list[float]:
        return [lat * 1000 for t, lat, _ in self.queries if t == template]

    def end_to_end(self) -> dict:
        plain = [b for b in self.builds if not b["traced"]]
        resumes = [r["wall_s"] for r in self.resumes if not r["traced"]]
        return {
            "setup_s": self.setup_s,
            "build_s": statistics.median([b["wall_s"] for b in plain]),
            "triples_per_s": statistics.median([b["triples"] / b["wall_s"] for b in plain]),
            "resume_s": statistics.median(resumes) if resumes else math.nan,
            **{f"query_{t}_p50_ms": statistics.median(self.latencies_ms(t))
               for t in queries.TEMPLATES},
            "peak_rss_mb": self.rss.peak["total"],
        }

    def details(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed, "cpus": self.cpus,
            "driver_memory": self.spark_conf["spark.driver.memory"],
            "spark_local_dir": self.spark_conf["spark.local.dir"],
            "input": self.meta,
            "samples": {
                "builds": sum(1 for b in self.builds if not b["traced"]),
                "resumes": sum(1 for r in self.resumes if not r["traced"]),
                "traced_reps": sum(1 for b in self.builds if b["traced"]),
                "queries_per_template": QUERY_ROUNDS,
                "rss_samples": self.rss.samples,
            },
            "build_s_all": [round(b["wall_s"], 3) for b in self.builds],
            "resume_s_all": [round(r["wall_s"], 3) for r in self.resumes],
            # P/R of every build is also a gate (counted in `failed`)
            "triple_precision": min(b["precision"] for b in self.builds),
            "triple_recall": min(b["recall"] for b in self.builds),
            "failure_rate": self.failed / self.attempted,
            "peak_rss_mb": self.rss.peak,
            "phase_s": self.phases,
            "host_cpu_steal_share": self.steal_share,
            "spans_file": str(self.spans_file) if self.tracer else None,
        }
