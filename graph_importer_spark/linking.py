"""Entity linking: mention surfaces -> candidate entities -> top-1.

Candidate generation is a broadcast hash join of detected mentions
against the alias dictionary (alias -> entity, prior).  Broadcast means
NO shuffle on the fact side at all — skew in surface frequency (head
entities appear orders of magnitude more often; synth.py builds this
skew in deliberately) cannot produce a straggler here, which is exactly
why the reference's hand-rolled balanced-partitioning trick
(clique_generator.py:216-229) has no analogue on this join.

Disambiguation (top-1 per mention: longest surface wins, then highest
prior, then lexicographically smallest entity) and overlap suppression
(a token interior to an accepted longer mention must not also link)
share ONE hash shuffle keyed on (url, sent_id): candidates are
collected per sentence and both the per-position argmax and the overlap
EXISTS run as higher-order array expressions inside codegen.  The
alternatives each cost a second exchange of every mention row — a
row_number window needs a full sort-shuffle (measured ~2x stage cost at
10^7 mentions), and a separate min_by aggregation keyed on (url,
sent_id, pos) is algebraic but differently-keyed than the overlap pass.
Group keys are fine-grained and uniform — no salting needed HERE; skew
handling matters downstream where keys are entities (see cc.py /
operators/skew.py).

Mirrors the query surface the reference delegates to ArangoDB's AQL
anti-join (vertices_generator.py:123-146) in spirit: push the lookup to
the engine, never loop on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """mentions(url, sent_id, pos, n_tokens, surface) x aliases(alias,
    entity, prior) -> linked(url, sent_id, pos, n_tokens, surface,
    entity, score).

    One row per mention (best candidate)."""
    per_sent = best_per_position(mentions, aliases, ["url", "sent_id"])
    kept = per_sent.select(
        "url", "sent_id", F.explode(non_overlapping(F.col("ms"))).alias("m")
    )
    return kept.select(
        "url",
        "sent_id",
        F.col("m.pos").alias("pos"),
        F.col("m.n_tokens").alias("n_tokens"),
        F.col("m.surface").alias("surface"),
        F.col("m.entity").alias("entity"),
        F.col("m.score").alias("score"),
    )


def best_per_position(
    mentions: DataFrame, aliases: DataFrame, keys: list[str]
) -> DataFrame:
    """mentions(*keys, pos, n_tokens, surface) x aliases(alias, entity,
    prior) -> (*keys, ms): one row per sentence key, ``ms`` the array of
    its best candidate per position, struct<pos, n_tokens, surface,
    entity, score>.  ``non_overlapping(ms)`` then gives the linked
    mentions.

    ``keys`` must identify one sentence (they are the shuffle key).  A
    surface no alias spells drops out at the broadcast inner join, so
    callers need not pre-filter mentions against the dictionary."""
    alias_dim = aliases.select(
        F.col("alias").alias("surface"), "entity", "prior"
    )
    cands = mentions.join(F.broadcast(alias_dim), "surface", "inner").select(
        *keys,
        "pos",
        "n_tokens",
        "surface",
        "entity",
        F.col("prior").alias("score"),
    )
    # ONE shuffle for the whole stage: group straight to the sentence
    # key and do top-1-per-position as array logic on the collected
    # candidates.  (A first groupBy(url, sent_id, pos) min_by would be
    # algebraic, but its shuffle key differs from the sentence key the
    # overlap pass needs, so the two-agg formulation moves every mention
    # row through TWO exchanges; candidates per sentence are bounded by
    # sentence length, so the collected array is small and the per-pos
    # reduce is cheap codegen.)
    per_sent = cands.groupBy(*keys).agg(
        F.collect_list(
            F.struct("pos", "n_tokens", "surface", "entity", "score")
        ).alias("cs")
    )
    # best candidate per position: max over (n_tokens, score, -entity)
    # == (longest, then best-scored, then smallest entity id) — a strict
    # total order (same pos + same n_tokens => same surface), so the
    # fold's winner is independent of collect_list order.
    null_c = (
        "cast(null as struct<pos:int,n_tokens:int,surface:string,"
        "entity:string,score:double>)"
    )
    best = F.expr(
        f"""transform(array_distinct(transform(cs, c -> c.pos)), p ->
      aggregate(filter(cs, c -> c.pos = p), {null_c},
        (acc, c) -> case
          when acc is null then c
          when c.n_tokens > acc.n_tokens then c
          when c.n_tokens = acc.n_tokens and c.score > acc.score then c
          when c.n_tokens = acc.n_tokens and c.score = acc.score
               and c.entity < acc.entity then c
          else acc end))"""
    )
    return per_sent.select(*keys, best.alias("ms"))


def non_overlapping(ms: Column) -> Column:
    """Overlap suppression over a ``best_per_position`` array column:
    keep the mentions whose position lies inside no longer mention.

    Consume it in the expression that needs it, as ``link_mentions``
    explodes it: a filter over a column bound to it is pushed below that
    projection with the expression substituted, which evaluates the
    whole top-1 pass twice."""
    return F.filter(
        ms,
        lambda m: ~F.exists(
            ms,
            lambda l: (l["n_tokens"] > 1)
            & (m["pos"] > l["pos"])
            & (m["pos"] < l["pos"] + l["n_tokens"]),
        ),
    )
