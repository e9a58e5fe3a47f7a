"""Entity linking: mention surfaces -> candidate entities -> top-1.

Candidate generation is a broadcast hash join of detected mentions
against the alias dictionary (alias -> entity, prior).  Broadcast means
NO shuffle on the fact side at all — skew in surface frequency (head
entities appear orders of magnitude more often; synth.py builds this
skew in deliberately) cannot produce a straggler here, which is exactly
why the reference's hand-rolled balanced-partitioning trick
(clique_generator.py:216-229) has no analogue on this join.

Disambiguation (top-1 per mention: longest surface wins, then highest
prior, a null prior lowest, then lexicographically smallest entity) and
overlap suppression (a token interior to an accepted longer mention must
not also link) share ONE hash shuffle keyed on (url, sent_id): candidates are
collected per sentence and both the per-position argmax and the overlap
EXISTS run as higher-order array expressions inside codegen.  The
alternatives each cost a second exchange of every mention row — a
row_number window needs a full sort-shuffle (measured ~2x stage cost at
10^7 mentions), and a separate min_by aggregation keyed on (url,
sent_id, pos) is algebraic but differently-keyed than the overlap pass.
Group keys are fine-grained and uniform — no salting needed HERE; skew
handling matters downstream where keys are entities (see cc.py /
operators/skew.py).

The stream links without any exchange: ``compile_surfaces`` reduces
the dictionary to one row per surface with its top-1 entity, and
``kept_mentions`` applies the same rules (longest match per position,
the overlap rule) to a batch of token lists as one vectorized Arrow /
numpy pass with a hash probe per candidate length.

Mirrors the query surface the reference delegates to ArangoDB's AQL
anti-join (vertices_generator.py:123-146) in spirit: push the lookup to
the engine, never loop on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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
    # == (longest, then best-scored, then smallest entity id), where a
    # null score ranks below every score — a strict total order (same
    # pos + same n_tokens => same surface), so the fold's winner is
    # independent of collect_list order.  ``compile_surfaces`` ranks by
    # the same order.
    null_c = (
        "cast(null as struct<pos:int,n_tokens:int,surface:string,"
        "entity:string,score:double>)"
    )
    best = F.expr(
        f"""transform(array_distinct(transform(cs, c -> c.pos)), p ->
      aggregate(filter(cs, c -> c.pos = p), {null_c},
        (acc, c) -> case
          when acc is null then c
          when c.n_tokens <> acc.n_tokens then
            if(c.n_tokens > acc.n_tokens, c, acc)
          when c.score <=> acc.score then if(c.entity < acc.entity, c, acc)
          when acc.score is null or c.score > acc.score then c
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


# --- compiled dictionary + vectorized Arrow kernel --------------------------
#
# Top-1 depends only on the surface (longest wins per position, and within
# one surface the order is prior, then entity), so the alias dictionary
# compiles to one row per surface and linking a sentence becomes a hash
# probe per candidate surface: no join, no shuffle.


def compile_surfaces(aliases: DataFrame) -> tuple[pd.Index, pa.Array]:
    """aliases(alias, entity, prior) -> (surfaces, entities): one
    position per distinct alias, ``entities[i]`` the top-1 entity of
    ``surfaces[i]`` in ``best_per_position``'s order (prior descending, a
    null prior below every prior and NaN above, then the smallest
    entity).  A null alias spells no surface and is dropped.

    Collects the dictionary into this process with one Spark job: it is
    the small side of the build's broadcast join."""
    t = aliases.select("alias", "entity", "prior").filter(F.col("alias").isNotNull()).toArrow()
    prior = t.column("prior").cast(pa.float64())
    t = t.append_column("has_prior", pc.is_valid(prior)).append_column(
        "is_nan", pc.fill_null(pc.is_nan(prior), False)
    )
    t = t.take(
        pc.sort_indices(
            t,
            sort_keys=[
                ("has_prior", "descending"),
                ("is_nan", "descending"),
                ("prior", "descending"),
                ("entity", "ascending"),
            ],
        )
    )
    # rows are in rank order, so an alias's first row is its top-1
    surfaces, first = np.unique(t.column("alias").to_numpy(), return_index=True)
    return pd.Index(surfaces, dtype=object), t.column("entity").take(first).combine_chunks()


def kept_mentions(
    tokens: pa.ListArray, surfaces: pd.Index, max_alias_tokens: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The mentions ``link_mentions`` keeps in each sentence of
    ``tokens``, as (row, pos, n_tokens, hit) arrays in token order:
    ``hit`` indexes ``surfaces``, i.e. the ``compile_surfaces`` entity.

    Vectorized over all tokens of the batch; the only loops are over
    the 1..K surface lengths.  Candidate surfaces are built like
    ``mentions.candidate_surfaces``: the k-token surface at ``pos``
    joins the tokens of the sentence from ``pos`` on, so a slice past
    the sentence end is the shorter surface again, tagged ``k``."""
    flat = tokens.flatten()
    n = len(flat)
    row = pc.list_parent_indices(tokens).to_numpy()
    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False)
    start = np.zeros(len(tokens), dtype=np.int64)
    np.cumsum(lengths[:-1], out=start[1:])
    pos = np.arange(n) - start[row]
    room = lengths[row] - pos  # tokens from pos to the sentence end
    surface = flat
    best_n = np.zeros(n, dtype=np.int64)
    hit = np.full(n, -1, dtype=np.int64)
    for k in range(1, max_alias_tokens + 1):
        if k > 1:
            nxt = np.arange(n) + (k - 1)
            inside = room >= k
            shifted = flat.take(pa.array(np.where(inside, nxt, 0), mask=~inside))
            surface = pc.binary_join_element_wise(surface, shifted, " ", null_handling="skip")
        got = surfaces.get_indexer(surface.to_numpy(zero_copy_only=False))
        found = got >= 0
        hit = np.where(found, got, hit)
        best_n = np.where(found, k, best_n)
    # non_overlapping: a position inside a longer best mention that
    # starts d tokens earlier in the same sentence does not link
    covered = np.zeros(n, dtype=bool)
    for d in range(1, max_alias_tokens):
        covered[d:] |= (pos[d:] >= d) & (best_n[:-d] > d)
    kept = np.flatnonzero((best_n > 0) & ~covered)
    return row[kept], pos[kept], best_n[kept], hit[kept]


def sentence_ends(
    tokens: pa.ListArray, surfaces: pd.Index, entities: pa.Array, max_alias_tokens: int
) -> tuple[np.ndarray, pa.Array, pa.Array]:
    """(rows, subj, obj): the sentences of ``tokens`` with two or more
    kept mentions, and the entities of their first and last one — the
    ``triples.extract_triples`` pattern."""
    row, _, _, hit = kept_mentions(tokens, surfaces, max_alias_tokens)
    if len(row) == 0:
        empty = pa.array([], pa.string())
        return row, empty, empty
    first = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
    last = np.r_[first[1:], len(row)] - 1
    two = last > first
    return row[first[two]], entities.take(hit[first[two]]), entities.take(hit[last[two]])
