"""Seeded benchmark inputs built from ``sources.corpus.generate_corpus``.

Two input shapes, each a documents table plus the wide per-row gold
table that ``corpus.gold_triples`` melts:

- ``open_vocab``: the generator's corpus (with its ~7% exact duplicates)
  whose fragment-count sentence is redrawn from a wide numeric range,
  so the (label, surface) node set is open like lab values. The gold
  of a rewritten row is re-projected onto the new conclusion with the
  generator's own rule (a value counts only if its token sequence
  survives sectionizing).
- ``dup_heavy``: rows drawn with Zipf popularity from a small pool of
  distinct generator contents (boilerplate and forked files); every
  row carries its source row's gold under its own path.

Generation is deterministic per seed and costs no metric; the result
is cached as parquet per (shape, rows, seed).
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import shutil
from pathlib import Path

import pandas as pd

from gliner_transbronchialbiopsy_spark import config
from gliner_transbronchialbiopsy_spark.functions import textlib
from gliner_transbronchialbiopsy_spark.sources import corpus

# the generator's fragment sentence: f"{n_frag} fragments dont {n_alv} alvéolés."
_FRAGMENTS_RE = re.compile(r"\b(\d+) fragments dont (\d+) alvéolés\.")
_FRAG = "nombre_total_de_fragments"
_ALV = "nombre_total_de_fragments_alveoles"
OPEN_VOCAB_MAX = 999_999
DUP_HOT_SHARE = 0.10  # share of rows the most popular content gets
DUP_POOL_DIVISOR = 20  # distinct source contents = rows / this


def _project(gold: dict, conclusion: str | None) -> dict:
    """The generator's projection rule: keep each ';'-joined value whose
    token sequence occurs in the conclusion; drop empty slugs."""
    out = {}
    if conclusion:
        for slug in config.LABEL_SLUGS.values():
            v = gold.get(slug)
            if isinstance(v, str) and v:
                kept = [p for p in v.split(";") if textlib.find_token_spans(conclusion, p)]
                if kept:
                    out[slug] = ";".join(kept)
    out["conclusion_text"] = conclusion
    return out


def rewrite_fragments(content: str, gold: dict, n_frag: int, n_alv: int) -> tuple[str, dict] | None:
    """Replace the fragment-count sentence of one document and re-project
    its gold, or None when the row is not safely rewritable: no single
    fragment sentence, a length near the generator's truncation cap, or
    old counts ending in '2' (the sectionizer's end marker
    ``(?:II|2)\\s*[-\\s]+`` then cut the old conclusion there, so values
    after it are missing from the old gold and cannot be restored)."""
    found = _FRAGMENTS_RE.findall(content)
    if len(found) != 1 or len(content) + 16 > config.MAX_TEXT_LENGTH:
        return None
    old_frag, old_alv = found[0]
    if old_frag.endswith("2") or old_alv.endswith("2"):
        return None
    new_content = _FRAGMENTS_RE.sub(f"{n_frag} fragments dont {n_alv} alvéolés.", content)
    new_gold = dict(gold)
    if new_gold.get(_FRAG) == old_frag:
        new_gold[_FRAG] = str(n_frag)
    if new_gold.get(_ALV) == old_alv:
        new_gold[_ALV] = str(n_alv)
    return new_content, _project(new_gold, textlib.extract_conclusion(new_content))


def _gold_dict(row: pd.Series) -> dict:
    return {k: v for k, v in row.items() if k != "path" and isinstance(v, str)}


def open_vocab(rows: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    docs, gold = corpus.generate_corpus(n_docs=rows, seed=seed)
    rng = random.Random(f"open_vocab:{seed}")
    # keyed by the old content so the generator's duplicates stay
    # duplicates (same new content, same new gold)
    memo: dict[str, tuple[str, dict] | None] = {}
    contents, golds = [], []
    for content, (_, g) in zip(docs["content"], gold.iterrows()):
        old_gold = _gold_dict(g)
        if content not in memo:
            n_frag = rng.randint(1, OPEN_VOCAB_MAX)
            memo[content] = rewrite_fragments(
                content, old_gold, n_frag, rng.randint(0, n_frag)
            )
        new = memo[content]
        contents.append(content if new is None else new[0])
        golds.append(old_gold if new is None else new[1])
    docs = docs.assign(content=contents)
    return docs, _gold_frame(docs["path"], golds)


def zipf_exponent(pool: int, hot_share: float = DUP_HOT_SHARE) -> float:
    """Exponent s for which rank 1 of a Zipf(s) law over `pool` items
    gets `hot_share` of the mass (bisection; the share rises with s)."""
    lo, hi = 0.0, 8.0
    for _ in range(60):
        s = (lo + hi) / 2
        share = 1.0 / sum(k ** -s for k in range(1, pool + 1))
        lo, hi = (s, hi) if share < hot_share else (lo, s)
    return (lo + hi) / 2


def dup_heavy(rows: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    pool = max(rows // DUP_POOL_DIVISOR, 1)
    src_docs, src_gold = corpus.generate_corpus(n_docs=pool, seed=seed)
    rng = random.Random(f"dup_heavy:{seed}")
    s = zipf_exponent(pool)
    picks = rng.choices(range(pool), weights=[k ** -s for k in range(1, pool + 1)], k=rows)
    doc_rows, golds = [], []
    for i, src in enumerate(picks):
        repo = f"repo{i % 50:03d}"
        path = f"reports/report{i:06d}.txt"
        doc_rows.append(dict(
            repo=repo, path=path,
            commit=textlib.sha256_hex(f"{repo}/{path}")[:40],
            lang=src_docs.at[src, "lang"], content=src_docs.at[src, "content"],
        ))
        golds.append(_gold_dict(src_gold.iloc[src]))
    docs = pd.DataFrame(doc_rows)
    return docs, _gold_frame(docs["path"], golds)


def _gold_frame(paths, golds: list[dict]) -> pd.DataFrame:
    cols = ["path", "conclusion_text"] + list(config.LABEL_SLUGS.values())
    return pd.DataFrame(
        [{"path": p, **g} for p, g in zip(paths, golds)]
    ).reindex(columns=cols)


SHAPES = {"open_vocab": open_vocab, "dup_heavy": dup_heavy}


def describe(docs: pd.DataFrame, gold: pd.DataFrame) -> dict:
    """Input-side counts the layer metrics divide by."""
    concl = gold["conclusion_text"].fillna("")
    with_text = docs.loc[concl.str.strip().ne("").to_numpy(), "content"]
    return {
        "rows": len(docs),
        "distinct_contents": int(docs["content"].nunique()),
        "distinct_texts": int(with_text.nunique()),
    }


def write(out: Path, docs: pd.DataFrame, gold: pd.DataFrame) -> None:
    out.mkdir(parents=True, exist_ok=True)
    # small row groups so the scan splits into parallel tasks
    docs.to_parquet(out / "documents.parquet", index=False, row_group_size=1024)
    gold.to_parquet(out / "gold.parquet", index=False)
    (out / "meta.json").write_text(json.dumps(describe(docs, gold)))


def prepare(cache: Path, shape: str, rows: int, seed: int) -> Path:
    """Directory holding documents.parquet, gold.parquet and meta.json
    for (shape, rows, seed), generated on first use."""
    out = cache / f"{shape}-{rows}-{seed}"
    if not (out / "meta.json").exists():
        tmp = out.with_name(out.name + ".tmp")
        write(tmp, *SHAPES[shape](rows, seed))
        if out.exists():
            shutil.rmtree(out)
        tmp.rename(out)
    return out


def load(d: Path) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    return (
        pd.read_parquet(d / "documents.parquet"),
        pd.read_parquet(d / "gold.parquet"),
        json.loads((d / "meta.json").read_text()),
    )


def gold_set(gold: pd.DataFrame) -> set[tuple[str, str, str]]:
    """(path, pred slug, lowercased value) — the triples a correct build
    emits, keyed as the repository's end-to-end P/R test keys them."""
    return {
        (path, config.LABEL_SLUGS[label], value.lower())
        for path, label, value in corpus.gold_triples(gold).itertuples(index=False)
    }


def content_shas(docs: pd.DataFrame) -> dict[str, str]:
    return {
        p: hashlib.sha256(c.encode()).hexdigest()
        for p, c in zip(docs["path"], docs["content"])
    }
