"""Explicit hot-key skew handling (north_rule: "AQE and salted
shuffles handling the hot-key skew from boilerplate/duplicated files").

The engine already kills skew implicitly in several places — the
dedup-by-content-sha clustering before detection (kg_pipeline.detect), the
document-frequency caps before every LSH self-join (dedup.py,
linking.py), AQE skew-join splitting (session.py). This module adds
the EXPLICIT, reusable form for aggregations, where AQE cannot help:
AQE splits skewed *join* partitions, but a groupBy over a hot key
still funnels every row of that key through one reduce task.

- salted_agg: two-phase aggregation. Phase 1 groups on
  (keys..., salt) so a hot key's rows spread over `n_salts` reduce
  tasks and combine map-side; phase 2 merges the per-salt partials on
  the true keys — a shuffle of at most |groups| * n_salts tiny rows.
  Provably equal to the plain groupBy for algebraic aggregates
  (count/sum/min/max, avg = merged sum / merged count).

- salted_distinct_agg: countDistinct under skew. distinct on
  (keys..., value) first — the distinct shuffle is salted by the value
  column itself, so a hot key spreads — then a plain count per key on
  the (much smaller) distinct set.

At 100 TB the difference is the job completing: a boilerplate license
header duplicated across 10^9 files is ONE groupBy key; unsalted, its
reduce task gets 10^9 rows while 999 executors idle.

Why phase 1 bounds the skew: the salt is pmod(xxhash64(salt_on), n)
where `salt_on` must be a per-row-distinct expression (an id column,
or the row's full content). Rows of the hot key land uniformly across
n_salts groups, so no reduce task sees more than ~|hot|/n_salts rows.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: op name -> (phase1 partial over raw rows, phase2 merge over partials)
_ALGEBRAIC = {
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    metrics: Mapping[str, tuple[str, str]],
    salt_on: Column | str,
    n_salts: int = 32,
) -> DataFrame:
    """Two-phase salted groupBy.

    metrics maps output column name -> (op, input column) with op in
    {count, sum, min, max, avg}; for count the input column is ignored.
    `salt_on` is a per-row-distinct column/expression used to derive
    the salt (NOT random: deterministic across task retries, which
    rand() is not under Spark's recompute-on-failure model).

    Equivalent to
        df.groupBy(*keys).agg(...)
    but the first (wide) shuffle is on (keys..., salt), so a hot key
    fans out over n_salts reduce tasks; the second shuffle moves only
    n_groups * n_salts pre-aggregated rows.
    """
    if not metrics:
        raise ValueError("salted_agg: metrics must be non-empty")
    if n_salts < 1:
        # pmod(x, 0) yields NULL — every row would land in one NULL
        # salt group, silently defeating the fan-out
        raise ValueError(f"salted_agg: n_salts must be >= 1, got {n_salts}")
    out_clash = set(metrics) & set(keys)
    if out_clash:
        # a metric named like a key column would emit two columns with
        # the same name in the phase-2 result (ambiguous downstream)
        raise ValueError(
            f"salted_agg: metric output names {sorted(out_clash)} collide "
            "with key columns — pick different output names"
        )
    reserved = {"_salt"} | {
        f"_{p}_{out}" for out in metrics for p in ("p", "s", "c")
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"salted_agg: input columns {sorted(clash)} collide with "
            "internal names (_salt, _p_*/_s_*/_c_*) — rename them first"
        )
    salt_col = F.pmod(F.xxhash64(salt_on), F.lit(n_salts)).alias("_salt")

    partials, merges = [], []
    for out, (op, col) in metrics.items():
        if op == "avg":
            # algebraic decomposition: avg = sum of sums / sum of counts
            partials.append(F.sum(col).alias(f"_s_{out}"))
            partials.append(F.count(col).alias(f"_c_{out}"))
            merges.append(
                (F.sum(f"_s_{out}") / F.sum(f"_c_{out}")).alias(out)
            )
        elif op in _ALGEBRAIC:
            p1, p2 = _ALGEBRAIC[op]
            partials.append(p1(col).alias(f"_p_{out}"))
            merges.append(p2(f"_p_{out}").alias(out))
        else:
            raise ValueError(
                f"salted_agg: unsupported op {op!r} for {out!r} "
                "(supported: count, sum, min, max, avg; for distinct "
                "counts use salted_distinct_agg)"
            )

    phase1 = df.withColumn("_salt", salt_col).groupBy(*keys, "_salt").agg(*partials)
    return phase1.groupBy(*keys).agg(*merges)


def salts_for(
    hot_rows: float,
    target_rows_per_task: int = 1_000_000,
    max_salts: int = 256,
) -> int:
    """Autoscale n_salts from the hottest key's (estimated) row count,
    mirroring dedup.embedding_planes_for: enough salts that each of the
    hot key's reduce tasks sees at most target_rows_per_task rows,
    clamped to [1, max_salts]. Tiny/uniform inputs get 1 — i.e. a plain
    two-phase agg with NO fan-out, so small groups never pay the
    n_salts x partial-row multiplication a fixed default charges."""
    import math

    hot = max(float(hot_rows), 0.0)
    return max(1, min(max_salts, math.ceil(hot / max(target_rows_per_task, 1))))


def auto_salts(
    df: DataFrame,
    keys: Sequence[str],
    sample_fraction: float = 0.01,
    target_rows_per_task: int = 1_000_000,
    max_salts: int = 256,
    seed: int = 7,
) -> int:
    """Estimate the hot-key row count from ONE sampled aggregate and
    derive n_salts via salts_for. The sample's per-key counts
    partial-aggregate map-side, so the estimation shuffle moves at most
    ~n_partitions x n_keys rows — never the raw (possibly skewed)
    table. Deterministic (seeded sample) so task retries and re-runs
    agree. Callers on metadata-rich stores (Iceberg partition stats)
    should derive hot_rows from table metadata instead of sampling."""
    row = (
        df.sample(fraction=min(max(sample_fraction, 1e-6), 1.0), seed=seed)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_hot"))
        .head()
    )
    if row is None or row["_hot"] is None:
        return 1
    hot_est = row["_hot"] / min(max(sample_fraction, 1e-6), 1.0)
    return salts_for(hot_est, target_rows_per_task, max_salts)


def salted_distinct_agg(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out: str = "n_distinct",
) -> DataFrame:
    """countDistinct(value_col) per key, skew-proof.

    A plain groupBy(keys).agg(countDistinct(value)) shuffles every raw
    row of a hot key to one task. Instead: distinct over
    (keys..., value) — that shuffle hashes on the VALUE too, so a hot
    key's rows spread across the cluster — then count per key over the
    deduplicated (bounded) set. NULL values are dropped first so each
    group's count equals countDistinct (which skips NULLs); groups
    whose values are all NULL are restored with a join against the key
    universe (itself skew-safe: a keys-only distinct partial-aggregates
    map-side, so the shuffle moves ~n_partitions * n_keys rows).
    """
    counted = (
        df.select(*keys, value_col)
        .filter(F.col(value_col).isNotNull())
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(out))
    )
    universe = df.select(*keys).distinct()
    # null-safe equality on every key: groupBy treats NULL as a group,
    # so the restoring join must too — a plain equi-join would never
    # match a NULL key and silently zero that group's count
    cond = None
    c = counted.alias("_c")
    u = universe.alias("_u")
    for k in keys:
        clause = u[k].eqNullSafe(c[k])
        cond = clause if cond is None else cond & clause
    return u.join(c, cond, "left").select(
        *[u[k] for k in keys], F.coalesce(c[out], F.lit(0)).alias(out)
    )


def hrw_shard(col, n_shards: int = 8, exclude: int | None = None):
    """Rendezvous / highest-random-weight routing expression (Thaler
    & Ravishankar, IEEE ToN 6(1) 1998): shard(key) = argmax over
    shards s of hash(key, seed=s) — a PURE PROJECTION (an array of
    seeded portable hashes + array_position of the max; zero state,
    zero shuffle), the routing rule behind consistent partition
    assignment: when a shard leaves, ONLY its keys move (every other
    key's argmax is untouched) — the minimal-disruption property a
    1000-executor elastic repartition needs, and what plain
    hash-mod-n cannot offer (mod-n remaps ~(n-1)/n of ALL keys).
    `exclude` computes the assignment as if that shard were removed
    (argmax over the remaining seeds). 0-based shard ids."""
    from .linking import portable_hash60

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shards = [s for s in range(n_shards) if s != exclude]
    if not shards:
        raise ValueError("excluding the only shard leaves none")
    scores = F.array(*[portable_hash60(col, seed=s) for s in shards])
    pos = F.array_position(scores, F.array_max(scores))
    # map the position back through the surviving-shard list
    lookup = F.array(*[F.lit(s) for s in shards])
    return F.element_at(lookup, pos.cast("int")).alias("shard")


def hrw_disruption_audit(
    items: DataFrame,
    col: str,
    n_shards: int = 8,
    removed: int | None = None,
) -> DataFrame:
    """Per-shard routing + elasticity audit -> (shard, n_rows,
    n_keys, n_stay, n_move): keys route by hrw_shard over n_shards;
    n_stay / n_move compare against the assignment with `removed`
    (default: the last shard) taken out. The minimal-disruption
    theorem, value-checked row-for-row: n_move == n_keys on the
    removed shard and 0 everywhere else — so scaling the shard set
    only ever touches the departing shard's keys. All counts exact
    longs; distinct keys counted per shard."""
    if removed is None:
        removed = n_shards - 1
    keyed = items.select(
        F.col(col).alias("_k"),
        hrw_shard(F.col(col), n_shards=n_shards).alias("shard"),
        hrw_shard(
            F.col(col), n_shards=n_shards, exclude=removed
        ).alias("_shard_after"),
    )
    per_key = keyed.groupBy("_k", "shard", "_shard_after").agg(
        F.count("*").cast("long").alias("_n")
    )
    return (
        per_key.groupBy("shard")
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_keys"),
            F.sum(
                F.when(F.col("_shard_after") == F.col("shard"), 1)
                .otherwise(0)
            ).cast("long").alias("n_stay"),
            F.sum(
                F.when(F.col("_shard_after") != F.col("shard"), 1)
                .otherwise(0)
            ).cast("long").alias("n_move"),
        )
        .orderBy("shard")
    )
