"""Explicit skew handling: salting helpers (north-rule requirement).

The reference acknowledges skew with its closed-form triangular work
split (clique_generator.py:216-229 'school math').  The graft's skew is
DATA skew — power-law entity keys (synth.py builds a u^3 head on
subjects deliberately).  Two standing mitigations:

1. AQE (session.py turns on adaptive skew-join + partition coalescing) —
   handles join-side skew at runtime with zero code.
2. Explicit salting below — for aggregations whose single hot key would
   still bottleneck one reducer, and for joins against dimensions too
   big to broadcast.

Salting an aggregation is two-phase: groupBy(key, salt) partial ->
groupBy(key) final.  For algebraic aggregates Spark's map-side partial
aggregation already does this implicitly; explicit salting matters for
collect_list/percentile-style holistic aggregates and for windowed
top-k where partitionBy(hot_key) cannot partial-aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, col_name: str = "_salt") -> DataFrame:
    """Per-row salt in [0, buckets) from the row ORDINAL, never the row
    content: ``monotonically_increasing_id() mod buckets`` deals salts
    round-robin within every input partition, so a hot key's rows — even
    byte-identical duplicates, even a fact frame that contains ONLY the
    join key — spread across all ``buckets``.  (A content hash is
    degenerate exactly when salting matters: identical rows get identical
    salts, and a key-only frame gets a salt that is a pure function of
    the key, parking every row of the hot key on ONE reducer.)

    Determinism caveat: the ordinal is stable for a deterministic source
    (a parquet scan re-lists the same files in the same order) but a
    task retry after an upstream SHUFFLE may replay rows in a different
    order and re-deal the salts.  That is safe for every helper in this
    module — results never depend on WHICH bucket a row lands in, only
    that each row lands in exactly one — the same correctness argument
    Spark applies to round-robin repartition.
    """
    return df.withColumn(
        col_name, F.pmod(F.monotonically_increasing_id(), F.lit(buckets))
    )


def salted_count(df: DataFrame, key: str, buckets: int = 32) -> DataFrame:
    """Two-phase count by a (possibly hot) key. Equivalent to
    groupBy(key).count() but the first shuffle spreads each key over
    ``buckets`` reducers."""
    salted = with_salt(df, buckets)
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("c"))
    return partial.groupBy(key).agg(F.sum("c").alias("count"))


def salted_collect_set(df: DataFrame, key: str, value: str, buckets: int = 32) -> DataFrame:
    """Holistic aggregate (collect_set) with explicit salting — the case
    map-side partials don't cover."""
    salted = with_salt(df, buckets)
    partial = salted.groupBy(key, "_salt").agg(F.collect_set(value).alias("s"))
    return partial.groupBy(key).agg(
        F.array_distinct(F.flatten(F.collect_list("s"))).alias("values")
    )


def salted_topk(
    df: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    k: int,
    payload: list[str] | None = None,
    buckets: int = 32,
) -> DataFrame:
    """Exact top-k rows per (possibly hot) key WITHOUT a per-key window
    sort: ``row_number() OVER (PARTITION BY key ORDER BY ...)`` sorts a
    hot key's entire row set inside one task — the canonical windowed
    top-k skew trap.  Two-phase instead:

      1. per (key, salt): keep only that bucket's top-k via
         ``slice(array_sort(collect_list(struct)), 1, k)`` — each bucket
         holds ~rows/buckets rows, and the per-group state the final
         shuffle carries is <= k structs per bucket;
      2. per key: flatten the <= buckets*k candidates, sort, slice k,
         explode back to rows.

    Ordering is DESC by ``order_col``, ties broken ASC by ``tiebreak``
    (required: without a total order, top-k is nondeterministic and no
    oracle can replay it).  Returns key + order_col + tiebreak +
    ``payload`` columns, exactly k rows per key (fewer if the key has
    fewer rows).
    """
    payload = payload or []
    # struct sorts lexicographically: negate-friendly DESC via a sort
    # struct of (order_col DESC -> invert through sort keys) is type-
    # dependent; array_sort with a comparator keeps it generic.
    row = F.struct(
        F.col(order_col).alias("o"),
        F.col(tiebreak).alias("t"),
        *[F.col(c).alias(c) for c in payload],
    )
    cmp = (
        "(l, r) -> CASE WHEN l.o > r.o THEN -1 WHEN l.o < r.o THEN 1 "
        "WHEN l.t < r.t THEN -1 WHEN l.t > r.t THEN 1 ELSE 0 END"
    )
    topk = lambda c: F.slice(F.expr(f"array_sort({c}, {cmp})"), 1, k)  # noqa: E731
    partial = (
        with_salt(df, buckets)
        .groupBy(key, "_salt")
        .agg(F.collect_list(row).alias("rows"))
        .select(key, topk("rows").alias("cand"))
    )
    merged = (
        partial.groupBy(key)
        .agg(F.flatten(F.collect_list("cand")).alias("rows"))
        .select(key, F.explode(topk("rows")).alias("r"))
    )
    return merged.select(
        key,
        F.col("r.o").alias(order_col),
        F.col("r.t").alias(tiebreak),
        *[F.col(f"r.{c}").alias(c) for c in payload],
    )


def salted_join_big_skewed(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Salted equi-join for a dimension too big to broadcast when the
    fact side has hot keys: facts get a random-ish salt, the dim is
    replicated ``buckets`` times with every salt value, and the join key
    becomes (key, salt) — each hot key now lands on ``buckets`` reducers.

    Cost: dim inflated x buckets (why broadcast wins when it fits).
    AQE's skew-join split usually makes this unnecessary; provided for
    the cases AQE can't split (e.g. followed by a merge-sensitive op).
    """
    salted_facts = with_salt(facts, buckets)
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = salted_facts.join(replicated_dim, [key, "_salt"], how)
    return out.drop("_salt")
