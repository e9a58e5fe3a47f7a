"""Gazetteer mention detection over extracted page text.

``detect_mentions`` is the build's token join.  Sentences and token
positions come from ``split``/``posexplode`` (JVM-side, whole-stage
codegen); candidate surfaces of 1..K tokens are built with array
``slice``/``array_join`` and equi-joined against the broadcast alias
dictionary.  No giant regex, no Python in the hot loop, the join is a
broadcast hash join (the alias dictionary is a classic small dimension),
and it is ANSI-SQL-expressible so the DuckDB oracle can mirror it
exactly.  The stream detects and links in one pass instead: it probes
the compiled dictionary with the candidate surfaces of the same sentence
and token expressions (``linking.kept_mentions``).

The reference has no mention stage; this replaces its per-line
``line.split(' ', 2)`` parse loop (graphalytics_importer.py:117-123)
with columnar tokenization.

Output schema:
  url string, sent_id int, pos int, n_tokens int, surface string
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Sentence boundary: split after '.', '!' or '?' followed by whitespace.
_SENT_SPLIT = r"(?<=[.!?])\s+"
# Token-trailing punctuation stripped before matching.
_PUNCT = r"[.,;:!?]+$"
# Longest alias, in tokens, that detection tries by default.
MAX_ALIAS_TOKENS = 2


def split_sentences(
    pages: DataFrame, text_col: str = "text", keys: tuple[str, ...] = ("url",)
) -> DataFrame:
    """pages -> (*keys, sent_id, sentence). Narrow (no shuffle)."""
    return pages.select(
        *keys,
        F.posexplode(F.split(F.col(text_col), _SENT_SPLIT)).alias("sent_id", "sentence"),
    ).filter(F.length("sentence") > 0)


def sentence_tokens():
    """Tokens of the ``sentence`` column: whitespace-split, trailing
    punctuation stripped."""
    toks = F.split(F.col("sentence"), r"\s+")
    return F.transform(toks, lambda t: F.regexp_replace(t, _PUNCT, ""))


def candidate_surfaces(max_alias_tokens: int = MAX_ALIAS_TOKENS):
    """Candidate surfaces of 1..K tokens starting at ``pos`` of
    ``tokens`` (slice is 1-based), one row each once exploded:
    array<struct<n_tokens int, surface string>>.  A slice past the end
    of the sentence yields the shorter surface again, tagged with the
    larger ``n_tokens``."""
    return F.expr(
        f"transform(sequence(1, {max_alias_tokens}), "
        f"k -> struct(k as n_tokens, array_join(slice(tokens, pos + 1, k), ' ') as surface))"
    )


def detect_mentions(
    pages: DataFrame,
    aliases: DataFrame,
    text_col: str = "text",
    max_alias_tokens: int = MAX_ALIAS_TOKENS,
) -> DataFrame:
    """Token-join mention detection (the scale path).

    Plan shape: scan -> posexplode(sentences) -> posexplode(tokens) ->
    explode(candidate surface lengths) -> BroadcastHashJoin(alias dict).
    No wide shuffle at all — the only exchange is the broadcast.
    """
    sents = split_sentences(pages, text_col)
    toks = sents.select(
        "url",
        "sent_id",
        sentence_tokens().alias("tokens"),
    ).select(
        "url",
        "sent_id",
        F.col("tokens"),
        F.posexplode("tokens").alias("pos", "tok"),
    )
    # FIRST-TOKEN PREFILTER before any candidate-string construction:
    # a surface can only match an alias if its first token starts one,
    # so semi-join the raw token (a hash probe on an existing string,
    # zero allocation) and build slice/array_join candidate strings only
    # at surviving positions.  On web text the gazetteer hit rate is a
    # few percent of tokens — this removes ~90%+ of the short-lived
    # string churn that otherwise dominates the stage's CPU (and its
    # GC share, the superlinear term in many-core scaling).
    first_dim = F.broadcast(
        aliases.select(
            F.split(F.col("alias"), r"\s+").getItem(0).alias("tok")
        ).distinct()
    )
    starts = toks.join(first_dim, "tok", "left_semi")
    cands = starts.select(
        "url",
        "sent_id",
        "pos",
        F.explode(candidate_surfaces(max_alias_tokens)).alias("c"),
    ).select("url", "sent_id", "pos", F.col("c.n_tokens").alias("n_tokens"), F.col("c.surface").alias("surface"))
    surf_dim = F.broadcast(
        aliases.select(F.col("alias").alias("surface")).distinct()
    )
    return cands.join(surf_dim, "surface", "left_semi").select(
        "url", "sent_id", "pos", "n_tokens", "surface"
    )
