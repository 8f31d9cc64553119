"""Stage 1 — mention detection as a mapInPandas table function.

Reference semantics: model_handler.predict_entities
(src/streamlit/app/models/model_handler.py:123-191) — text in, list of
{text,label,score,start,end} out, threshold-filtered, scores 3-dp.
Its batch variant loops per text even inside "batches"
(model_handler.py:221-227); here the Arrow record batch IS the
micro-batch and one compiled catalog (or one loaded model) serves the
whole Python worker, never reloaded per row.

Scale design: exact content dedup BEFORE detection (kg_pipeline.detect)
replaces the reference's 100-entry prediction cache
(model_handler.py:111-121) and removes the hot-key skew from
boilerplate/duplicated files: at 10^12 files, running the model once
per distinct sha instead of once per row is the dominant saving. The
detectors here emit spans keyed by the caller's id columns only; the
mention id is derived JVM-side by kg_pipeline.detect over the full
document key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import patterns as pat
from ..functions import textlib

MENTION_FIELDS = (
    "text string, label string, score double, start_idx int, end_idx int"
)


def _mention_schema(id_cols: tuple[str, ...]) -> str:
    return ", ".join([f"{c} string" for c in id_cols]) + ", " + MENTION_FIELDS


def detect_mentions(
    docs: DataFrame,
    text_col: str = "conclusion",
    catalog: dict[str, str] | None = None,
    threshold: float = 0.5,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
) -> DataFrame:
    """Run pattern-NER over `text_col`, returning exploded mention rows.

    Output: id_cols + (text, label, score, start_idx, end_idx). Offsets
    are char offsets into `text_col`'s value, matching
    EntityPrediction.start_idx/end_idx (model_handler.py:25-26)."""
    catalog = catalog or pat.MEDICAL_PATTERNS
    schema = _mention_schema(id_cols)

    # P6 empty-text guard (model_handler.py:98-99) as a Catalyst filter
    # *before* the opaque UDF so pruning/pushdown still apply.
    pruned = docs.select(*id_cols, text_col).filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compiled = pat.compile_catalog(catalog)  # once per python worker task
        score_cache: dict[tuple[str, str], float] = {}
        for pdf in batches:
            # columnar accumulation: one python list per output column
            # (a list-of-tuples -> DataFrame round trip is 2-3x slower
            # at millions of mentions)
            cols: dict[str, list] = {c: [] for c in id_cols}
            mtext, mlabel = [], []
            mscore, mstart, mend = [], [], []
            ids = pdf[list(id_cols)].to_numpy()
            texts = pdf[text_col].to_numpy()
            for i in range(len(pdf)):
                text = texts[i]
                for label, rx in compiled.items():
                    for m in rx.finditer(text):
                        surface = m.group(0)
                        ck = (surface, label)
                        score = score_cache.get(ck)
                        if score is None:
                            score = textlib.stable_score(surface, label)
                            score_cache[ck] = score
                        if score < threshold:
                            continue
                        for c, v in zip(cols, ids[i]):
                            cols[c].append(v)
                        mtext.append(surface)
                        mlabel.append(label)
                        mscore.append(score)
                        mstart.append(m.start())
                        mend.append(m.end())
            yield pd.DataFrame(
                {
                    **cols,
                    "text": mtext,
                    "label": mlabel,
                    "score": mscore,
                    "start_idx": pd.array(mstart, dtype="int32"),
                    "end_idx": pd.array(mend, dtype="int32"),
                }
            )

    return pruned.mapInPandas(run, schema=schema)


def gliner_detector(
    model_path: str | None = None,
    labels: tuple[str, ...] | None = None,
    threshold: float = 0.5,
    batch_size: int = 32,
):
    """Factory for kg_pipeline's `detector=` hook: run_pipeline(...,
    detector=gliner_detector("path/to/model")) swaps the pattern stage
    for real GLiNER inference while keeping every pipeline optimization
    (dedup-before-inference, sha-balanced partitioning, overlap merge —
    which re-engages automatically for model detectors)."""

    from .. import config as cfg

    # resolve the label set NOW: the checkpoint variant must describe
    # what will actually run — a lazily-resolved config.LABELS edited
    # between runs would otherwise serve stale snapshots under an
    # unchanged "None" tag
    labels = tuple(labels or cfg.LABELS)

    def det(docs: DataFrame, text_col: str, id_cols: tuple[str, ...]) -> DataFrame:
        return detect_mentions_gliner(
            docs, text_col=text_col, model_path=model_path, labels=labels,
            threshold=threshold, id_cols=id_cols, batch_size=batch_size,
        )

    # checkpoint-variant identity: a resume with a different model/label
    # set/threshold must recompute the mentions snapshot, not reuse it
    det.variant = f"gliner:{model_path}:{labels}:{threshold}"
    return det


def detect_mentions_gliner(
    docs: DataFrame,
    text_col: str = "conclusion",
    model_path: str | None = None,
    labels: tuple[str, ...] | None = None,
    threshold: float = 0.5,
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    batch_size: int = 32,
) -> DataFrame:
    """Real-GLiNER path: identical DAG, different UDF body.

    Gated behind an import-try — the `gliner` package
    (reference requirements.txt) is not in this environment; the stage
    raises at execution time if missing. One model instance per Python
    worker (module-level lazy init), mirroring the reference's
    singleton+lock (model_handler.py:42-82) without the lock: Spark
    python workers are single-threaded.
    """
    from .. import config as cfg

    labels = labels or cfg.LABELS
    schema = _mention_schema(id_cols)
    pruned = docs.select(*id_cols, text_col).filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            from gliner import GLiNER  # type: ignore
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "gliner not installed; use detect_mentions (pattern path)"
            ) from e
        model = GLiNER.from_pretrained(model_path)
        out_cols = list(id_cols) + [
            "text", "label", "score", "start_idx", "end_idx",
        ]
        for pdf in batches:
            rows = []
            for i in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[i : i + batch_size]
                texts = [
                    textlib.preprocess_for_model(t) for t in chunk[text_col]
                ]
                preds = model.batch_predict_entities(
                    texts, list(labels), threshold=threshold
                )
                for (_, row), ents in zip(chunk.iterrows(), preds):
                    for e in ents:
                        rows.append(
                            (*[row[c] for c in id_cols],
                             e["text"], e["label"], round(e["score"], 3),
                             e["start"], e["end"])
                        )
            yield pd.DataFrame(rows, columns=out_cols)

    return pruned.mapInPandas(run, schema=schema)
