"""The seeded SPARQL query mix and its DuckDB restatement.

Every template is issued through ``operators.sparql.sparql`` and
restated in SQL over the same triples parquet; a result counts as
correct only if it equals the DuckDB answer (as a multiset, or as a
list for the ordered template). Pattern scans in the SPARQL engine are
set-semantic, hence the DISTINCTs below.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import duckdb

from gliner_transbronchialbiopsy_spark.sources import corpus

# closed-vocabulary predicates, so GROUP BY has a handful of groups
GROUP_PREDS = ("site", "grade_a", "grade_b", "coloration_c4d", "rejet_chronique", "infection")
_FRAG = "nombre_total_de_fragments"
_ALV = "nombre_total_de_fragments_alveoles"


@dataclass(frozen=True)
class Query:
    template: str
    sparql: str
    sql: str
    params: tuple
    ordered: bool = False


def _lit(v: str) -> str:
    return '"' + v + '"'


def connect(triples_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    glob = f"{triples_dir}/**/*.parquet".replace("'", "''")
    con.execute(
        "CREATE TEMP VIEW t AS SELECT subj, pred, obj "
        f"FROM read_parquet('{glob}', hive_partitioning = true)"
    )
    return con


def _point(rng, rows) -> Query:
    s, p, _ = rng.choice(rows)
    return Query(
        "point", f"SELECT ?o WHERE {{ {_lit(s)} {p} ?o }}",
        "SELECT DISTINCT obj FROM t WHERE subj = ? AND pred = ?", (s, p),
    )


def _objval(rng, rows) -> Query:
    _, p, o = rng.choice(rows)
    return Query(
        "objval", f"SELECT ?s WHERE {{ ?s {p} {_lit(o)} }}",
        "SELECT DISTINCT subj FROM t WHERE pred = ? AND obj = ?", (p, o),
    )


def _star(rng, rows) -> Query:
    site = rng.choice(corpus.SITES)  # the input's vocabulary, not the build's
    return Query(
        "star",
        f"SELECT ?s ?n ?a WHERE {{ ?s {_FRAG} ?n . ?s {_ALV} ?a . "
        f"?s site {_lit(site)} FILTER (?n != ?a) }}",
        "SELECT DISTINCT n.subj, n.obj, a.obj FROM t n "
        f"JOIN t a ON a.subj = n.subj AND a.pred = '{_ALV}' "
        "JOIN t st ON st.subj = n.subj AND st.pred = 'site' AND st.obj = ? "
        f"WHERE n.pred = '{_FRAG}' AND n.obj <> a.obj",
        (site,),
    )


def _group(rng, rows) -> Query:
    p = rng.choice(GROUP_PREDS)
    return Query(
        "group",
        f"SELECT ?o (COUNT(?s) AS ?c) WHERE {{ ?s {p} ?o }} "
        "GROUP BY ?o ORDER BY DESC(?c) ?o LIMIT 5",
        "SELECT obj, count(*) AS c FROM (SELECT DISTINCT subj, obj FROM t WHERE pred = ?) "
        "GROUP BY obj ORDER BY c DESC, obj LIMIT 5",
        (p,), ordered=True,
    )


def _ask(rng, rows) -> Query:
    _, p, o = rng.choice(rows)
    if rng.random() < 0.5:
        o += " absent"
    return Query(
        "ask", f"ASK {{ ?s {p} {_lit(o)} }}",
        "SELECT count(*) > 0 FROM t WHERE pred = ? AND obj = ?", (p, o),
    )


def _describe(rng, rows) -> Query:
    s = rng.choice(rows)[0]
    return Query(
        "describe", f"DESCRIBE {_lit(s)}",
        "SELECT DISTINCT subj, pred, obj FROM t WHERE subj = ?", (s,),
    )


TEMPLATES = {
    "point": _point, "objval": _objval, "star": _star,
    "group": _group, "ask": _ask, "describe": _describe,
}


def draw(con: duckdb.DuckDBPyConnection, seed: int, rounds: int) -> list[Query]:
    """`rounds` rounds, each issuing every template once in a seeded
    order, with parameters drawn at `seed` from the triples themselves."""
    rng = random.Random(f"queries:{seed}")
    rows = con.execute(
        "SELECT subj, pred, obj FROM t WHERE NOT contains(obj, '\"') ORDER BY subj, pred, obj"
    ).fetchall()
    out = []
    for _ in range(rounds):
        order = list(TEMPLATES)
        rng.shuffle(order)
        out += [TEMPLATES[t](rng, rows) for t in order]
    return out


def answer(con: duckdb.DuckDBPyConnection, q: Query) -> list[tuple]:
    return normalize(con.execute(q.sql, list(q.params)).fetchall(), q.ordered)


def normalize(rows, ordered: bool) -> list[tuple]:
    out = [tuple(r) for r in rows]
    return out if ordered else sorted(out)
