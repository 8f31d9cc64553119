"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest kgbench/tests -q
"""

import json
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pytest

from gliner_transbronchialbiopsy_spark.functions import textlib
from gliner_transbronchialbiopsy_spark.sources import corpus
from kgbench import bench, inputs, layers, queries, stats, trace

ROOT = Path(__file__).resolve().parents[2]
_FRAG = "nombre_total_de_fragments"
_ALV = "nombre_total_de_fragments_alveoles"


@pytest.mark.parametrize("shape", sorted(inputs.SHAPES))
def test_generator_is_byte_deterministic(tmp_path, shape):
    for d in ("a", "b"):
        inputs.write(tmp_path / d, *inputs.SHAPES[shape](300, 7))
    for name in ("documents.parquet", "gold.parquet", "meta.json"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    other = tmp_path / "c"
    inputs.write(other, *inputs.SHAPES[shape](300, 8))
    assert (other / "documents.parquet").read_bytes() != (tmp_path / "a" / "documents.parquet").read_bytes()


def _rewritable(n=40, seed=5):
    docs, gold = corpus.generate_corpus(n_docs=n, seed=seed)
    for content, (_, g) in zip(docs["content"], gold.iterrows()):
        g = inputs._gold_dict(g)
        if g.get(_FRAG) and g.get(_ALV) and inputs.rewrite_fragments(content, g, 3, 1):
            return content, g
    raise AssertionError("no rewritable row in the fixture")


def test_numeric_rewrite_updates_gold():
    content, gold = _rewritable()
    new_content, new_gold = inputs.rewrite_fragments(content, gold, 345_671, 13_579)
    assert "345671 fragments dont 13579 alvéolés." in new_content
    assert new_gold[_FRAG] == "345671" and new_gold[_ALV] == "13579"
    assert new_gold["conclusion_text"] == textlib.extract_conclusion(new_content)
    # every other label keeps its value
    for slug, v in gold.items():
        if slug not in (_FRAG, _ALV, "conclusion_text"):
            assert new_gold[slug] == v


def test_rewrite_to_a_count_ending_in_2_follows_the_projection_rule():
    """The sectionizer cuts the conclusion at '2 '; the gold keeps only
    what survives, exactly as the generator projects its own gold."""
    content, gold = _rewritable()
    new_content, new_gold = inputs.rewrite_fragments(content, gold, 32, 7)
    conclusion = textlib.extract_conclusion(new_content)
    assert new_gold["conclusion_text"] == conclusion
    assert new_gold.get(_FRAG) != "32"
    for slug, v in new_gold.items():
        if slug != "conclusion_text":
            assert all(textlib.find_token_spans(conclusion, p) for p in v.split(";"))


def test_rows_cut_by_their_old_counts_are_not_rewritten():
    content, gold = _rewritable()
    cut = content.replace(f"{gold[_FRAG]} fragments dont", "12 fragments dont")
    assert inputs.rewrite_fragments(cut, gold, 345, 17) is None


def test_open_vocab_keeps_duplicates_consistent():
    docs, gold = inputs.open_vocab(600, 3)
    assert docs["content"].duplicated().any()
    merged = docs[["path", "content"]].merge(gold, on="path").drop(columns="path")
    per_content = merged.astype(str).groupby("content").nunique()
    assert (per_content == 1).all().all()
    counts = docs["content"].str.extract(r"(\d+) fragments dont")[0].dropna().astype(int)
    assert (counts > 12).mean() > 0.5  # mostly open vocabulary


def test_dup_heavy_carries_source_gold():
    rows, seed = 400, 4
    docs, gold = inputs.dup_heavy(rows, seed)
    src_docs, src_gold = corpus.generate_corpus(n_docs=rows // inputs.DUP_POOL_DIVISOR, seed=seed)
    src = dict(zip(src_docs["content"], (inputs._gold_dict(g) for _, g in src_gold.iterrows())))
    assert docs["path"].is_unique
    for content, (_, g) in zip(docs["content"], gold.iterrows()):
        assert inputs._gold_dict(g) == src[content]
    top = docs["content"].value_counts().iloc[0] / rows
    assert 0.05 < top < 0.2


def test_zipf_exponent_hits_the_hot_share():
    s = inputs.zipf_exponent(250)
    share = 1 / sum(k ** -s for k in range(1, 251))
    assert share == pytest.approx(inputs.DUP_HOT_SHARE, rel=1e-6)


def test_query_rounds_issue_every_template_once_per_round():
    con = duckdb.connect()
    con.execute(
        "CREATE TEMP VIEW t AS SELECT * FROM (VALUES "
        "('reports/a.txt', 'site', 'lobe inférieur droit'), "
        "('reports/a.txt', 'grade_a', 'A0'), "
        "('reports/b.txt', 'site', 'lobe supérieur gauche')) v(subj, pred, obj)"
    )
    batch = queries.draw(con, 3, rounds=4)
    n = len(queries.TEMPLATES)
    assert len(batch) == 4 * n
    for r in range(4):
        assert sorted(q.template for q in batch[r * n:(r + 1) * n]) == sorted(queries.TEMPLATES)
    assert [q.sparql for q in batch] == [q.sparql for q in queries.draw(con, 3, rounds=4)]
    for q in batch:  # every restatement runs
        queries.answer(con, q)


def test_rss_sampler_counts_child_processes():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time; x = bytearray(64 << 20); time.sleep(3)"]
    )
    try:
        time.sleep(1.0)
        sampler = stats.RssSampler(interval=0.05)
        sampler.start()
        time.sleep(0.3)
        sampler.stop()
    finally:
        child.kill()
        child.wait()
    assert sampler.samples >= 2
    assert sampler.peak["jvm"] >= 64  # the child's resident set, in MB
    assert sampler.peak["total"] == pytest.approx(
        sampler.peak["driver"] + sampler.peak["jvm"] + sampler.peak["workers"]
    )


def test_printed_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS


def test_spans_nest_and_self_time_excludes_children():
    t = trace.Tracer()
    with t.trace("build") as root:
        with t.span("detect"):
            pass
        with t.span("link") as link:
            with t.span("link.cc"):
                pass
    with t.trace("query"):
        pass
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["detect"]["parent"] == root["id"]
    assert by_name["link.cc"]["parent"] == link["id"]
    assert {s["trace"] for s in t.spans if s["name"] != "query"} == {root["trace"]}
    assert by_name["query"]["trace"] != root["trace"]
    kids = (by_name["detect"]["end"] - by_name["detect"]["start"]
            + link["end"] - link["start"])
    assert trace.self_time(root, t.spans) == pytest.approx(root["end"] - root["start"] - kids)


def test_installed_restores_the_layer_functions():
    from gliner_transbronchialbiopsy_spark.plans import kg_pipeline
    from gliner_transbronchialbiopsy_spark.sources.checkpoint import CheckpointManager

    before = (kg_pipeline.detect, CheckpointManager.write)
    with trace.installed(trace.Tracer()):
        assert kg_pipeline.detect is not before[0]
    assert (kg_pipeline.detect, CheckpointManager.write) == before


def test_query_results_compare_as_multisets_unless_ordered():
    a = [("x", 1), ("a", 2)]
    assert queries.normalize(a, False) == queries.normalize(list(reversed(a)), False)
    assert queries.normalize(a, True) != queries.normalize(list(reversed(a)), True)


def test_a_failed_check_counts_one_failure_per_attempt():
    b = object.__new__(bench.Bench)
    b.attempted = b.failed = 0
    ok = {"triples": 10, "precision": 1.0, "recall": 1.0, "lineage_ok": True}
    b._check_build("build 0", ok)
    b._check_build("resume 0", ok, want_triples=10)
    assert (b.attempted, b.failed) == (2, 0)
    b._check_build("resume 1", {**ok, "precision": 0.5, "lineage_ok": False}, want_triples=9)
    b._check_build("resume 2", ok, want_triples=9)
    assert (b.attempted, b.failed) == (4, 2)
