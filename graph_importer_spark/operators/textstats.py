"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen). Every formula is pinned so the DuckDB oracle can
reproduce values bit-for-bit: hashing is md5 (identical semantics in
Spark and DuckDB over utf-8 strings), ratios are rounded explicitly.

Operators:
* token_count      — whitespace tokens + BPE-ish regex tokens
* quality_score    — length/punct/stopword/word-length heuristic
* lang_id          — stopword-hit n-gram heuristic over 4 languages
* fingerprint      — md5 of whitespace/case-normalized text
* simhash64        — 60-bit SimHash over md5(token) (top 15 hex chars as
                     the bit source — md5 is bit-identical in Spark and
                     DuckDB, so the oracle replays the full votes)
* winnow_fingerprints — MOSS-style rolling k-gram winnowing (SIGMOD'03)
                     as a zero-shuffle per-document array expression
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "en", "por"],
}


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(text))
    )


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / punct)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0))


# Gopher's exact "stop word" set for the >= 2 rule (Rae et al. 2021
# §A1.1 lists precisely these eight words) — distinct from the repo's
# per-language lang-ID lists above, which are tuned for language
# discrimination, not for the Gopher gate.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _stopword_hits_in(text: Column, words: list[str]) -> Column:
    """Number of whitespace tokens (lowercased, punctuation-stripped)
    that appear in ``words``."""
    toks = F.transform(
        _tokens(F.lower(text)), lambda t: F.regexp_replace(t, r"[^a-z]", "")
    )
    stops = F.array(*[F.lit(s) for s in words])
    return F.size(F.filter(toks, lambda w: F.array_contains(stops, w)))


def _stopword_hits(text: Column, lang: str) -> Column:
    """Number of whitespace tokens (lowercased, punctuation-stripped)
    that are stopwords of ``lang``."""
    return _stopword_hits_in(text, STOPWORDS[lang])


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: _stopword_hits(text, lang) for lang in STOPWORDS}


def lang_id(text: Column) -> Column:
    """argmax of stopword hits; ties broken by fixed language order
    (en, de, fr, es); no hits at all -> 'und' (undetermined)."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # first lang wins ties
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(punct / n, 6))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    n = token_count(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(_stopword_hits(text, lang) / n, 6)
    )


def mean_word_len(text: Column) -> Column:
    toks = _tokens(text)
    n = token_count(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(total / n, 6))


def quality_score(text: Column, lang: str = "en") -> Column:
    """Pinned heuristic in [0,1]: rewards 50-10k chars, some stopwords,
    3-12 char mean words; penalizes punctuation soup.

    score = 0.25*len_ok + 0.25*min(1, stopword_ratio*5)
          + 0.25*(1 - min(1, punct_ratio*4)) + 0.25*word_len_ok

    Computed in integer MILLIONTHS: every component is a 6dp-rounded
    ratio, so the quarter-weighted sum is an exact multiple of
    0.25e-6 that can land exactly on a .5 six-decimal boundary —
    where double-space rounding diverges between engines (Spark
    rounds the shortest decimal repr of the double, DuckDB the binary
    value; one boundary doc at sf0.1, found by the round-5 strict
    sweep).  sum_m % 4 >= 2 IS the HALF_UP rule on that boundary,
    replayed identically in SQL.
    """
    n = F.length(text)
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1)).otherwise(F.lit(0))
    sw = stopword_ratio(text, lang)
    mw = mean_word_len(text)
    wl_ok = F.when((mw >= 3.0) & (mw <= 12.0), F.lit(1)).otherwise(F.lit(0))
    m = lambda c: F.round(c * 1000000).cast("bigint")  # noqa: E731
    c2 = F.least(F.lit(1000000), m(sw) * 5)
    c3 = F.lit(1000000) - F.least(F.lit(1000000), m(punct_ratio(text)) * 4)
    sum_m = (len_ok + wl_ok) * 1000000 + c2 + c3
    score_m = F.floor(sum_m / 4).cast("bigint") + F.when(
        sum_m % 4 >= 2, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        (score_m.cast("decimal(18,0)") / 1000000)
        .cast("decimal(18,6)")
        .cast("double")
    )


def alpha_word_frac(text: Column) -> Column:
    """Fraction of whitespace tokens containing >= 1 ASCII letter
    (Gopher rule: >= 0.8 of words must have an alphabetic character)."""
    n = token_count(text)
    alpha = F.size(F.filter(_tokens(text), lambda t: t.rlike("[A-Za-z]")))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(alpha / n, 6))


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' chars + # of '...' runs) / word count (Gopher symbol
    rule: <= 0.1). '...' runs count maximally-greedy: '....' is one."""
    n = token_count(text)
    syms = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.{3,}")
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(syms / n, 6))


def _nonblank_lines(text: Column) -> Column:
    return F.filter(
        F.split(text, "\n"), lambda l: F.length(F.trim(l)) > 0
    )


def bullet_line_frac(text: Column) -> Column:
    """Fraction of non-blank lines starting with '-' or '*' (Gopher
    bullet rule: <= 0.9)."""
    lines = _nonblank_lines(text)
    n = F.size(lines)
    hits = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*]")))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(hits / n, 6))


def ellipsis_line_frac(text: Column) -> Column:
    """Fraction of non-blank lines ending with '...' (Gopher ellipsis
    rule: <= 0.3)."""
    lines = _nonblank_lines(text)
    n = F.size(lines)
    hits = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(hits / n, 6))


def gopher_columns(text: Column, lang: str = "en") -> dict[str, Column]:
    """The Gopher quality-filter signal set (Rae et al. 2021, public —
    'Scaling Language Models: ... Gopher', §A1.1) as pinned, replayable
    column expressions. Every ratio rounds to 6 so the DuckDB oracle
    matches bit-for-bit; every rule is a pure built-in expression
    (whole-stage codegen, zero shuffle — one corpus scan filters 100 TB).

    ``gopher_pass`` applies the published thresholds: 50 <= words <=
    100000, 3 <= mean word length <= 10, symbol-to-word ratio <= 0.1,
    bullet lines <= 90%, ellipsis lines <= 30%, >= 80% alphabetic words,
    >= 2 hits of Gopher's exact eight-word stop set (GOPHER_STOPWORDS —
    the paper names the specific words, so the gate uses them verbatim
    rather than the repo's lang-ID stopword lists; ``lang`` is kept for
    signature compatibility and ignored by the stop rule, which the
    paper defines for English only).
    """
    n = token_count(text)
    mwl = mean_word_len(text)
    swr = symbol_word_ratio(text)
    bullet = bullet_line_frac(text)
    ell = ellipsis_line_frac(text)
    alpha = alpha_word_frac(text)
    stops = _stopword_hits_in(text, GOPHER_STOPWORDS)
    ok = (
        (n >= 50) & (n <= 100000)
        & (mwl >= 3.0) & (mwl <= 10.0)
        & (swr <= 0.1)
        & (bullet <= 0.9)
        & (ell <= 0.3)
        & (alpha >= 0.8)
        & (stops >= 2)
    )
    return {
        "n_words": n,
        "mean_word_len": mwl,
        "symbol_word_ratio": swr,
        "bullet_line_frac": bullet,
        "ellipsis_line_frac": ell,
        "alpha_word_frac": alpha,
        "stop_hits": stops,
        "gopher_pass": ok,
    }


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1: repetitious documents are low-quality training data).

    Returns (id, n_words, distinct_word_frac, dup_line_frac,
    top_2gram_frac):
    * distinct_word_frac — |set(words)| / |words| over the dedup normal
      form; a zero-shuffle array expression.
    * dup_line_frac — 1 - |set(non-blank lines)| / |non-blank lines|
      (0 for <= 1 line); also narrow.
    * top_2gram_frac — occurrences of the most frequent word 2-gram /
      total 2-grams. This one aggregates: explode 2-grams ->
      count(doc, gram) -> max/sum per doc. The shuffle key (doc, gram)
      is uniform (doc id dominates), partial aggregation applies, and
      rows shrink back to n_docs before the final join — the scalable
      shape, vs a per-doc O(len^2) array self-count.

    Empty/1-token docs get 0.0 for the gram fraction (no 2-grams).
    """
    t = normalize_text(F.col(text_col))
    toks = F.split(t, " ")
    lines = _nonblank_lines(F.col(text_col))
    n_lines = F.size(lines)
    base = df.select(
        F.col(id_col),
        token_count(t).alias("n_words"),
        F.when(token_count(t) == 0, F.lit(0.0))
        .otherwise(F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6))
        .alias("distinct_word_frac"),
        F.when(n_lines <= 1, F.lit(0.0))
        .otherwise(
            F.round(
                1 - F.size(F.array_distinct(F.transform(lines, F.trim))) / n_lines, 6
            )
        )
        .alias("dup_line_frac"),
        # 2-grams as (tok_i, tok_i+1) struct pairs via arrays_zip over two
        # shifted slices: a plain (non-lambda) expression, so it stays in
        # whole-stage codegen — the transform(sequence, i -> element_at)
        # form is evaluated interpreted per element and was ~10x slower.
        # Struct identity == string-gram identity (tokens contain no
        # spaces after split), so counts are unchanged.
        F.when(
            F.size(toks) >= 2,
            F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
            ),
        )
        .otherwise(
            F.arrays_zip(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            )
        )
        .alias("grams"),
    )
    gram_counts = (
        base.select(id_col, F.explode("grams").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_2gram_frac"))
    )
    return (
        base.drop("grams")
        .join(gram_counts, id_col, "left")
        .select(
            id_col,
            "n_words",
            "distinct_word_frac",
            "dup_line_frac",
            F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
        )
    )


def normalize_text(text: Column) -> Column:
    """lower + collapse whitespace + trim (the dedup normal form)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """md5 hex of the normal form — replayable in DuckDB (md5 of the
    same utf-8 string)."""
    return F.md5(F.encode(normalize_text(text), "UTF-8"))


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS local fingerprinting algorithm; public).

    Over the dedup normal form ([[normalize_text]]), hash every k-char
    gram and, for each window of ``w`` consecutive gram hashes, keep the
    minimum (ties -> leftmost position). The winnowing guarantee: any
    shared substring of length >= w + k - 1 contributes at least one
    shared fingerprint, while only ~2/(w+1) of positions are kept.

    Scale shape (100 TB): the ENTIRE selection is one narrow
    per-document array expression — sequence -> transform(md5 gram
    keys) -> transform(array_min(slice)) -> array_distinct — zero
    shuffle, no per-position explode, one scan of the corpus. Contrast
    the naive shape (explode one row per char + a w-row window
    function), which shuffles O(total corpus chars) rows.

    Replayability: gram hash is md5 over utf-8 (bit-identical in
    DuckDB); the selection key is ``md5hex || '-' || lpad(pos, 12)`` so
    the lexicographic string MIN orders by (hash, then leftmost pos)
    identically in both engines with no struct comparison semantics.

    Expression-evaluation trap (why the single-element-array transforms
    below exist): higher-order functions run interpreted (CodegenFallback
    — no whole-stage codegen, no subexpression elimination), and
    CollapseProject INLINES upstream column aliases into the lambda
    body, so a naive ``withColumn("keys", ...)`` followed by
    ``transform(windows, j -> array_min(slice(keys, j, w)))`` re-derives
    the whole keys array — including the normalization regexp — once
    PER WINDOW: O(len^2) regexp+md5 per document (measured: minutes for
    120 half-KB docs).  ``transform(array(x), v -> body)[0]`` is the SQL
    let-binding: the array construction evaluates x exactly once and
    every reference to v inside body is a NamedLambdaVariable lookup,
    giving the intended 1 regexp + npos md5 + npos*w comparisons.

    Returns (id_col, fp_hash string, fp_pos int), one row per distinct
    selected fingerprint; documents shorter than k + w - 1 normalized
    chars emit no rows.
    """
    k, w = int(k), int(w)
    d = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__t")
    ).filter(F.length("__t") >= k + w - 1)
    winnow = (
        # let t = normal form; let ks = gram selection keys over t
        f"transform(array(__t), t -> "
        f"  transform(array(transform(sequence(1, length(t) - {k} + 1), "
        f"      i -> concat(md5(encode(substring(t, i, {k}), 'utf-8')), '-', "
        f"           lpad(cast(i as string), 12, '0')))), "
        f"    ks -> array_distinct(transform(sequence(1, size(ks) - {w} + 1), "
        f"      j -> array_min(slice(ks, j, {w}))))"
        f"  )[0]"
        f")[0]"
    )
    return d.select(
        F.col(id_col), F.explode(F.expr(winnow)).alias("__fp")
    ).select(
        id_col,
        F.substring("__fp", 1, 32).alias("fp_hash"),
        F.substring("__fp", 34, 12).cast("int").alias("fp_pos"),
    )


SIMHASH_BITS = 60  # 15 md5 hex chars -> fits a signed int64 exactly


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document over md5(token).

    explode tokens -> explode bit positions -> per-(doc,bit) majority
    vote -> assemble. Shuffle key (doc, bit) is uniform; the vote is a
    partial-aggregating sum. Returns (id_col, simhash long).

    The token hash is the first 15 hex chars of md5 (conv base 16->10):
    md5 over UTF-8 is bit-identical in Spark and DuckDB, so the oracle
    replays every vote exactly; 60 bits keeps the value inside a signed
    int64 in both engines (full 64 would need unsigned semantics DuckDB
    lacks).  xxhash64 would be ~2x faster JVM-side but is not replayable
    — for a fingerprint whose whole point is verified dedup, replayable
    wins.
    """
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok")
    ).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.encode("tok", "UTF-8")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    bits = toks.select(
        id_col,
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
    ).select(
        id_col,
        "bit",
        # vote +1 if bit set else -1  (SQL form: shiftright takes a
        # column numBits only through the parser)
        F.expr("(shiftright(h, cast(bit as int)) & 1) * 2 - 1").alias("v"),
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("v").alias("s"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(1L, cast(bit as int))")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def let_bind(value: Column, body) -> Column:
    """SQL let-binding: ``transform(array(value), v -> body(v))[0]``
    evaluates ``value`` exactly ONCE and makes every reference inside
    ``body`` a NamedLambdaVariable lookup.  Required around any
    tokenize/normalize expression referenced inside a higher-order
    lambda: HOFs run interpreted (CodegenFallback, no subexpression
    elimination) and CollapseProject inlines upstream aliases into the
    lambda body, re-deriving the full expression once PER ELEMENT —
    O(len^2) regexp work per document (see winnow_fingerprints'
    docstring for the measured pathology)."""
    return F.transform(F.array(value), body).getItem(0)


def duplicated_gram_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Exact duplicated-substring statistics (the aggregate view of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better": substrings of >= k tokens that occur in more than one
    document are memorization risks).  Per document: total k-gram
    starts, starts whose gram also occurs in ANOTHER document, and the
    duplicated fraction.

    Returns ``(id, n_grams, n_dup_grams, dup_frac)``.

    Scale shape (100 TB): explode to (doc, gram) and IMMEDIATELY reduce
    to per-(doc, gram) occurrence counts (partial agg eats the blowup on
    the map side); gram document-frequency comes from a second aggregate
    over that already-reduced table; the join back is an equi-join on
    the gram key.  This is the suffix-array-free formulation — exact on
    gram starts, no global sort, no driver state."""
    grams = let_bind(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda toks: F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    occ = (
        df.select(F.col(id_col).alias("_doc"), F.explode(grams).alias("_gram"))
        .groupBy("_doc", "_gram")
        .agg(F.count("*").alias("_cnt"))
    )
    dfreq = occ.groupBy("_gram").agg(F.count("*").alias("_ndocs"))
    joined = occ.join(dfreq, "_gram")
    return joined.groupBy(F.col("_doc").alias(id_col)).agg(
        F.sum("_cnt").alias("n_grams"),
        F.sum(F.when(F.col("_ndocs") >= 2, F.col("_cnt")).otherwise(F.lit(0))).alias(
            "n_dup_grams"
        ),
        F.round(
            F.sum(F.when(F.col("_ndocs") >= 2, F.col("_cnt")).otherwise(F.lit(0)))
            / F.sum("_cnt"),
            6,
        ).alias("dup_frac"),
    )


def c4_line_columns(
    text: Column, min_words: int = 5, min_kept_lines: int = 3
) -> dict[str, Column]:
    """C4's published line/page cleaning rules (Raffel et al. 2020,
    JMLR 21(140) §2.2) as pure array/string expressions over a
    newline-delimited page — zero shuffle, one map-only pass:

    line KEPT iff it (a) ends in a terminal punctuation mark
    (. ! ? "), (b) has >= ``min_words`` words, (c) does not contain
    the word "javascript" (case-insensitive);
    page KEPT (``c4_keep``) iff >= ``min_kept_lines`` lines survive
    and the page contains neither "lorem ipsum" nor "{".

    Returns named columns: n_lines, n_kept, clean_text (kept lines
    re-joined with \\n), c4_keep.  The line array is let-bound so the
    split runs once per page, not once per predicate (see let_bind).

    Boilerplate removal at the LINE level is the step between html
    extraction (extract.py) and document-level quality gates
    (gopher_columns) in a corpus filter; the reference has
    no text surface at all (it imports pre-built graphs), so this is
    §2.11 extension territory.
    """

    def is_kept(ln: Column) -> Column:
        words = F.size(F.split(F.trim(ln), r"\s+"))
        return (
            ln.rlike(r'[.!?"]\s*$')
            & (F.length(F.trim(ln)) > 0)
            & (words >= min_words)
            & ~F.lower(ln).contains("javascript")
        )

    lines = F.split(text, "\n")
    kept = let_bind(lines, lambda ls: F.filter(ls, is_kept))
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    low = F.lower(text)
    page_ok = (
        (n_kept >= min_kept_lines)
        & ~low.contains("lorem ipsum")
        & ~low.contains("{")
    )
    return {
        "n_lines": n_lines,
        "n_kept": n_kept,
        "clean_text": F.array_join(kept, "\n"),
        "c4_keep": page_ok,
    }


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """Apply :func:`c4_line_columns` per document -> (id, n_lines,
    n_kept, c4_keep, clean_md5).  The cleaned text is surfaced as its
    md5 so the frame stays narrow (callers that need the text itself
    use c4_line_columns directly in a select)."""
    cols = c4_line_columns(
        F.col(text_col), min_words=min_words, min_kept_lines=min_kept_lines
    )
    return df.select(
        F.col(id_col),
        cols["n_lines"].alias("n_lines"),
        cols["n_kept"].alias("n_kept"),
        cols["c4_keep"].alias("c4_keep"),
        F.md5(F.encode(cols["clean_text"], "UTF-8")).alias("clean_md5"),
    )


# The most common UTF-8-read-as-cp1252 damage sequences (double-encoded
# text is endemic in web crawls; ftfy's core table, trimmed to pairs
# whose bytes are printable in BOTH engines so the oracle can replay the
# repair as plain string literals).  Order is irrelevant: no entry is a
# substring of another, so chained replacement is confluent.
MOJIBAKE_TABLE = [
    ("â€™", "’"),   # â€™ -> right single quote
    ("â€œ", "“"),   # â€œ -> left double quote
    ("â€“", "–"),   # â€“ -> en dash
    ("â€”", "—"),   # â€” -> em dash
    ("Ã©", "é"),         # Ã© -> é
    ("Ã¨", "è"),         # Ã¨ -> è
    ("Ã¡", "á"),         # Ã¡ -> á
    ("Ã³", "ó"),         # Ã³ -> ó
    ("Ã±", "ñ"),         # Ã± -> ñ
    ("Ã¼", "ü"),         # Ã¼ -> ü
    ("Ã¶", "ö"),         # Ã¶ -> ö
    ("Ã¤", "ä"),         # Ã¤ -> ä
    ("Ã§", "ç"),         # Ã§ -> ç
    ("Ã¯", "ï"),         # Ã¯ -> ï
    ("Â ", " "),              # Â + nbsp -> space
]


def mojibake_columns(text: Column | str) -> dict[str, Column]:
    """Encoding-damage (mojibake) detection and repair as pure string
    expressions — zero shuffle, whole-stage codegen.

    Web crawls are full of UTF-8 text that was decoded as cp1252 and
    re-encoded ("CafÃ©", "donâ€™t"); LLM training corpora repair it
    (ftfy is a standard pipeline stage).  This applies the
    :data:`MOJIBAKE_TABLE` subset — the high-frequency two/three-char
    sequences — via chained ``replace``; the hit count per pattern is
    the length-delta trick ``(len(x) - len(replace(x, pat, ''))) /
    len(pat)``, so detection needs no regex engine and replays
    bit-identically in the DuckDB oracle.

    Returns ``{'fixed_text', 'mojibake_hits'}``.
    """
    col = F.col(text) if isinstance(text, str) else text
    hits = F.lit(0)
    fixed = col
    for bad, good in MOJIBAKE_TABLE:
        hits = hits + (
            (F.length(col) - F.length(F.replace(col, F.lit(bad), F.lit(""))))
            / F.lit(len(bad))
        ).cast("int")
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return {"fixed_text": fixed, "mojibake_hits": hits}


def mojibake_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Apply :func:`mojibake_columns` per document -> (id,
    mojibake_hits, is_mojibake, fixed_md5).  The repaired text is
    surfaced as its md5 so the frame stays narrow (same convention as
    ``c4_line_stats``); callers that want the text itself select
    ``mojibake_columns(...)['fixed_text']`` directly."""
    cols = mojibake_columns(F.col(text_col))
    return df.select(
        F.col(id_col),
        cols["mojibake_hits"].alias("mojibake_hits"),
        (cols["mojibake_hits"] > 0).alias("is_mojibake"),
        F.md5(F.encode(cols["fixed_text"], "UTF-8")).alias("fixed_md5"),
    )


def boilerplate_lines(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    lines_col: str,
    min_pages: int = 5,
    frac: float = 0.5,
    decimals: int = 6,
) -> DataFrame:
    """Per-domain boilerplate detection: a line appearing on >=
    ``frac`` of a domain's pages (domains with >= ``min_pages`` pages)
    is boilerplate — nav bars, cookie banners, footers.  The
    site-template counterpart of C4's global line rules
    (c4_line_filter) and the precursor to :func:`strip_boilerplate`;
    cf. the CCNet/RefinedWeb per-site template-stripping step.

    -> (domain, line, n_pages, domain_pages, line_frac).

    Scale shape: one (domain, line)-keyed distinct-page count and one
    domain-keyed page count, joined on domain — both partial-agg
    friendly; the (domain, line) key is fine-grained so template skew
    lands on the domain join, which broadcasts when the qualifying
    domain list is small.  line_frac = int/int division: exact and
    replayable.
    """
    pl = df.select(
        F.col(domain_col).alias("domain"),
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(F.col(lines_col))).alias("line"),
    )
    dp = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.countDistinct(id_col).alias("domain_pages")
    )
    cnt = pl.groupBy("domain", "line").agg(F.countDistinct("_id").alias("n_pages"))
    return (
        cnt.join(dp, "domain")
        .filter(
            (F.col("domain_pages") >= min_pages)
            & (F.col("n_pages") / F.col("domain_pages") >= frac)
        )
        .select(
            "domain",
            "line",
            "n_pages",
            "domain_pages",
            F.round(F.col("n_pages") / F.col("domain_pages"), decimals).alias(
                "line_frac"
            ),
        )
    )


def strip_boilerplate(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    lines_col: str,
    bp: DataFrame,
) -> DataFrame:
    """Remove detected boilerplate lines (from
    :func:`boilerplate_lines`) from every page, preserving line order.
    -> (id, domain, lines, n_before, n_after).

    Scale shape: posexplode -> (domain, line) LEFT ANTI join against
    the boilerplate table (small: qualifying template lines only —
    broadcast) -> re-collect sorted by position.  The per-page
    collect_list state is bounded by page length.
    """
    pos = df.select(
        F.col(id_col).alias("_id"),
        F.col(domain_col).alias("domain"),
        F.posexplode(F.col(lines_col)).alias("_pos", "line"),
    )
    kept = pos.join(
        F.broadcast(bp.select("domain", "line")), ["domain", "line"], "left_anti"
    )
    before = df.select(
        F.col(id_col).alias("_id"),
        F.col(domain_col).alias("domain"),
        F.size(F.col(lines_col)).alias("n_before"),
    )
    after = kept.groupBy("_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_pos", "line"))),
            lambda s: s.getField("line"),
        ).alias("lines")
    )
    return (
        before.join(after, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "domain",
            F.coalesce("lines", F.array().cast("array<string>")).alias("lines"),
            "n_before",
            F.coalesce(F.size("lines"), F.lit(0)).alias("n_after"),
        )
    )


def readability_columns(
    df: DataFrame,
    id_col: str,
    text_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade level (Kincaid 1975;
    the readability gates used in education-targeted corpus filtering,
    cf. the FineWeb-Edu style quality axes) under the standard
    dependency-free approximations:

    * words     = whitespace tokens of the dedup normal form (min 1)
    * sentences = runs of terminal punctuation ``[.!?]+`` (min 1)
    * syllables = vowel-group count ``[aeiouy]+`` per text (the classic
      heuristic — each maximal vowel run is one syllable; 'e' endings
      and diphthong edge cases are accepted error, documented)

    flesch = 206.835 - 1.015*(W/S) - 84.6*(Y/W)
    fk_grade = 0.39*(W/S) + 11.8*(Y/W) - 15.59

    -> (id, n_words, n_sentences, n_syllables, flesch, fk_grade).

    Scale shape: three regexp counts + arithmetic — pure codegen, zero
    shuffle, zero UDF; replayable in SQL via regexp_extract_all
    lengths.
    """
    t = normalize_text(F.col(text_col))
    words = F.greatest(F.size(F.split(t, " ")), F.lit(1))
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    sylls = F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"))
    wps = words.cast("double") / sents
    spw = sylls.cast("double") / words
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        sylls.cast("long").alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, decimals
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), decimals
        ).alias("fk_grade"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-group percentile normalization of a score — the blend step
    when mixing quality signals across domains whose raw score scales
    differ (a 0.9 on a news site is not a 0.9 on a forum): replace the
    score with its within-group percent rank, PERCENT_RANK semantics
    ((rank - 1) / (n - 1); single-row groups -> 0.0; ties share a
    rank).

    -> input columns + ``pct``.

    Scale shape: ONE per-group window.  Group sizes bound the sort —
    acceptable by contract when groups are capped upstream
    (domain_quota_sample), the same documented exception as
    curriculum_order; for unbounded groups swap in the
    hist_quantiles sketch and join the bucket CDF instead.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(score_col).asc())
    return df.withColumn("pct", F.round(F.percent_rank().over(w), decimals))


def char_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-document character-distribution Shannon entropy (bits) —
    the cheap gibberish/encoding-noise signal quality stacks pair with
    the word-level rules: natural language sits ~3.5-4.5 bits,
    base64/hex blobs and key-mash spam drift high, repeated-char
    padding drifts low (cf. the entropy gates in CCNet-descendant
    cleaning stacks).

    H = -sum_c (n_c/n) * log2(n_c/n) over characters of the dedup
    normal form; the sum folds LEFT-TO-RIGHT in character sort order
    so the emitted double is partition-invariant and SQL-replayable.

    -> (id, n_chars, n_distinct, entropy).

    Scale shape: one (doc, char)-keyed count (partial-agg; keys per
    doc bounded by the alphabet) + one doc-keyed sorted-array collect
    (state <= alphabet size) + a codegen fold.  No joins.
    """
    chars = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("_id", "ch").agg(F.count("*").alias("c"))
    arr = counts.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("ch", "c"))).alias("cs"),
        F.sum("c").alias("n"),
    )
    p_of = lambda s: s.getField("c").cast("double") / F.col("n")  # noqa: E731
    ent = -F.aggregate(
        F.col("cs"),
        F.lit(0.0),
        lambda acc, s: acc + p_of(s) * F.log2(p_of(s)),
    )
    return arr.select(
        F.col("_id").alias(id_col),
        F.col("n").cast("long").alias("n_chars"),
        F.size("cs").cast("long").alias("n_distinct"),
        F.round(ent, decimals).alias("entropy"),
    )


def lexicon_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lexicon: list[str],
    rate_threshold: float = 5.0,
    decimals: int = 6,
) -> DataFrame:
    """Lexicon-based content filter (the wordlist-screening stage of a
    training-data pipeline: profanity/unsafe-content lists, medical or
    legal term screens, brand-safety lists).  Tokens are the same
    lowercase whitespace normal form the rest of textstats uses; a hit
    is an exact token match against the (lowercased) lexicon —
    substring matches are deliberately NOT counted (no 'Scunthorpe'
    false positives).

    -> (id, n_tokens, n_hits, n_distinct_hits, hit_rate_per_1000,
       flagged) where flagged = hit_rate_per_1000 > rate_threshold.

    Scale shape: the lexicon becomes an array literal baked into the
    plan (wordlists are 10^2-10^4 entries — plan-constant territory;
    beyond that, switch to a broadcast-join variant).  Everything is
    per-row array expressions: zero shuffle, zero Python, whole-stage
    codegen; the filter predicate pushes down when used as a gate.
    """
    lex = sorted({w.lower() for w in lexicon})
    lex_arr = F.array(*[F.lit(w) for w in lex])
    nf = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.filter(F.split(nf, " "), lambda t: t != "")
    hits = F.filter(toks, lambda t: F.array_contains(lex_arr, t))
    n_tok = F.size(toks)
    n_hits = F.size(hits)
    rate = F.when(n_tok > 0, F.round(n_hits * F.lit(1000.0) / n_tok, decimals)).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_hits.alias("n_hits"),
        F.size(F.array_distinct(hits)).alias("n_distinct_hits"),
        rate.alias("hit_rate_per_1000"),
        (rate > F.lit(rate_threshold)).alias("flagged"),
    )


def stem_token(t: Column) -> Column:
    """Porter-lite suffix stripping of one lowercase token — steps 1a
    (plural collapse), a 1b subset (-ed / -ing with a vowel-in-stem
    guard), and -ly.  Deliberately expressed as CASE + ends_with +
    substring arithmetic, NOT backreference regexes: both engines
    (Java regex vs RE2) then evaluate the identical total function, so
    the DuckDB oracle replays it clause for clause.
    """

    def drop(col: Column, k: int) -> Column:
        return F.substring(col, 1, F.length(col) - F.lit(k))

    def has_vowel(col: Column) -> Column:
        return col.rlike("[aeiou]")

    # step 1a — plurals
    s1 = (
        F.when(t.endswith("sses"), drop(t, 2))
        .when(t.endswith("ies"), drop(t, 2))
        .when(t.endswith("ss"), t)
        .when(t.endswith("s") & (F.length(t) > 3), drop(t, 1))
        .otherwise(t)
    )
    # step 1b subset — -ing / -ed when a >=3-char stem with a vowel remains
    s2 = (
        F.when(
            s1.endswith("ing")
            & (F.length(s1) >= 6)
            & has_vowel(drop(s1, 3)),
            drop(s1, 3),
        )
        .when(
            s1.endswith("ed")
            & (F.length(s1) >= 5)
            & has_vowel(drop(s1, 2)),
            drop(s1, 2),
        )
        .otherwise(s1)
    )
    # -ly adverbs
    return F.when(
        s2.endswith("ly") & (F.length(s2) >= 5), drop(s2, 2)
    ).otherwise(s2)


def stem_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top: int = 50,
) -> DataFrame:
    """Stem-grouped vocabulary: alphabetic tokens of the whitespace
    normal form are stemmed (stem_token) and rolled up per stem —
    occurrence count, document frequency, number of distinct surface
    forms, and a deterministic sorted sample of up to 5 forms.

    -> (stem, n_occurrences, n_docs, n_forms, forms) top-``top`` by
    (count desc, stem asc).

    Scale shape: stemming is zero-shuffle codegen on the exploded
    token stream; the rollup partial-aggregates on the stem key
    (collect_set state bounded by the stem's surface-form variety,
    which is small by construction); final top-k is
    TakeOrderedAndProject, no global sort.
    """
    nf = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(F.split(nf, " ")).alias("tok")
    ).filter(F.col("tok").rlike("^[a-z]+$"))
    stemmed = toks.select("_id", "tok", stem_token(F.col("tok")).alias("stem"))
    return (
        stemmed.groupBy("stem")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("_id").alias("n_docs"),
            F.countDistinct("tok").alias("n_forms"),
            F.slice(F.sort_array(F.collect_set("tok")), 1, 5).alias("forms"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("stem").asc())
        .limit(top)
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str,
    text_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Tokenizer fertility / byte-economics per corpus segment (the
    multilingual budgeting table: how many BPE-ish tokens a byte of
    each language/source buys — Scao et al.'s fertility metric): per
    group, document / byte / char / whitespace-token / BPE-pre-token
    totals and the derived ratios.

    -> (group, n_docs, n_bytes, n_chars, n_ws_tokens, n_bpe_tokens,
       bytes_per_bpe, chars_per_ws, fertility) where fertility =
       bpe tokens per ws token (subword splits per word).

    Scale shape: pure codegen counting expressions feeding ONE
    group-keyed partial aggregate; integer sums are order-exact, so
    the ratios (rounded) replay cross-engine.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length(t)).alias("n_bytes"),
        F.sum(F.length(t)).alias("n_chars"),
        F.sum(token_count(t)).alias("n_ws_tokens"),
        F.sum(bpe_token_count(t)).alias("n_bpe_tokens"),
    )
    return g.select(
        "grp",
        "n_docs",
        "n_bytes",
        "n_chars",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(F.col("n_bytes") / F.col("n_bpe_tokens"), decimals),
        ).alias("bytes_per_bpe"),
        F.when(
            F.col("n_ws_tokens") > 0,
            F.round(F.col("n_chars") / F.col("n_ws_tokens"), decimals),
        ).alias("chars_per_ws"),
        F.when(
            F.col("n_ws_tokens") > 0,
            F.round(F.col("n_bpe_tokens") / F.col("n_ws_tokens"), decimals),
        ).alias("fertility"),
    )


def feature_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_features: int = 16,
    signed: bool = True,
) -> DataFrame:
    """Hashing-trick text vectorizer (Weinberger et al. 2009 — the
    fixed-dimension bag-of-words that needs no vocabulary pass):
    token t adds ±1 to bucket u32(md5(t)) % n_features, the sign
    from the hash's next bit (cancels collision bias).  Every value
    is a pure function of the token string — partition-invariant,
    vocabulary-free, SQL-replayable.

    -> (id, n_tokens, features array<bigint> of length n_features).

    Scale shape: zero shuffle — the whole vector is per-row array
    codegen (n_features bounded membership counts over the token
    array); at n_features beyond ~256 switch to the explode +
    (id, bucket) partial-agg shape instead.
    """
    nf = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.filter(F.split(nf, " "), lambda t: t != "")

    def u32(t):
        return F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 8), 16, 10).cast(
            "bigint"
        )

    def bucket_val(b):
        in_b = F.filter(toks, lambda t: u32(t) % n_features == b)
        if not signed:
            return F.size(in_b).cast("bigint")
        # sign bit: next hex nibble's low bit
        return F.aggregate(
            in_b,
            F.lit(0).cast("bigint"),
            # floor(u32 / n) is exact in double for u32 < 2^53
            lambda acc, t: acc
            + F.when(
                F.floor(u32(t) / F.lit(n_features)).cast("bigint") % 2 == 0,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    feats = F.array(*[bucket_val(b) for b in range(n_features)])
    return df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        feats.alias("features"),
    )


def augment_token_dropout(
    df: DataFrame,
    id_col: str,
    text_col: str,
    drop_prob: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """EDA-style token-dropout augmentation (Wei & Zou 2019's RD
    operation) with deterministic coins: token at position i of doc d
    drops iff u32(md5(d#i#seed)) % 10^6 < drop_prob * 10^6 — a pure
    function of (doc, position, seed), so the augmented corpus is
    partition-invariant and regenerable bit-for-bit (no stored copy
    needed; the seed IS the dataset version).

    -> (id, n_tokens, n_dropped, aug_text); documents whose every
    token dropped emit an empty string, not NULL.

    Scale shape: zero shuffle — coins and the rebuild are per-row
    array codegen.
    """
    thresh = int(drop_prob * 1_000_000)
    nf = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.filter(F.split(nf, " "), lambda t: t != "")
    d = df.select(F.col(id_col).alias("id"), toks.alias("_t"))

    def coin(i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.encode(
                            F.concat_ws(
                                "#",
                                F.col("id").cast("string"),
                                i.cast("string"),
                                F.lit(str(seed)),
                            ),
                            "UTF-8",
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1_000_000
        )

    kept = F.when(
        # sequence(1, 0) runs DESCENDING under ANSI and element_at then
        # faults on the empty array — guard the no-token case explicitly
        F.size("_t") == 0,
        F.array().cast("array<string>"),
    ).otherwise(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("_t")),
                lambda i: F.when(
                    coin(i) >= thresh, F.element_at(F.col("_t"), i)
                ),
            ),
            lambda t: t.isNotNull(),
        )
    )
    return d.select(
        "id",
        F.size("_t").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).alias("n_dropped"),
        F.array_join(kept, " ").alias("aug_text"),
    )


def sentiment_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    positive: list[str],
    negative: list[str],
    decimals: int = 6,
) -> DataFrame:
    """Signed-lexicon sentiment scoring (the AFINN/VADER-lite shape
    with caller-supplied wordlists): score = (pos_hits - neg_hits) /
    tokens, token-exact matching per lexicon_hits' rule (no
    substring false positives).

    -> (id, n_tokens, n_pos, n_neg, score, label) with label in
    {pos, neg, neu} by score sign (zero -> neu).

    Scale shape: two plan-constant lexicon arrays, zero-shuffle
    per-row array codegen — the lexicon_hits plan with a signed
    combiner.
    """
    pos = sorted({w.lower() for w in positive})
    neg = sorted({w.lower() for w in negative})
    pa = F.array(*[F.lit(w) for w in pos])
    na = F.array(*[F.lit(w) for w in neg])
    nf = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.filter(F.split(nf, " "), lambda t: t != "")
    n_pos = F.size(F.filter(toks, lambda t: F.array_contains(pa, t)))
    n_neg = F.size(F.filter(toks, lambda t: F.array_contains(na, t)))
    n_tok = F.size(toks)
    score = F.when(
        n_tok > 0, F.round((n_pos - n_neg) / n_tok, decimals)
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias("id"),
        n_tok.alias("n_tokens"),
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        score.alias("score"),
        F.when(score > 0, F.lit("pos"))
        .when(score < 0, F.lit("neg"))
        .otherwise(F.lit("neu"))
        .alias("label"),
    )


def lexical_diversity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-document lexical diversity: type-token ratio, hapax
    fraction (types occurring once — the productive-vocabulary
    signal), and Simpson diversity 1 - Σ n_i(n_i-1)/(N(N-1)) — the
    repetitiveness triad next to text_repetition's gram signals
    (template/boilerplate pages sit low on all three).

    -> (id, n_tokens, n_types, ttr, hapax_frac, simpson); NULL
    simpson for docs with < 2 tokens (undefined, not 0).

    Scale shape: one explode collapsed by the (doc, token) partial
    aggregate, then a doc-keyed rollup — all counts exact integers,
    every ratio a deterministic division.
    """
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    tt = df.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).groupBy("id", "tok").agg(F.count("*").alias("c"))
    per = tt.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("_hapax"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("_pairs"),
    )
    n = F.col("n_tokens")
    return per.select(
        "id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") / n, decimals).alias("ttr"),
        F.round(F.col("_hapax") / F.col("n_types"), decimals).alias(
            "hapax_frac"
        ),
        F.when(
            n >= 2,
            F.round(
                F.lit(1.0) - F.col("_pairs") / (n * (n - 1)), decimals
            ),
        ).alias("simpson"),
    )
