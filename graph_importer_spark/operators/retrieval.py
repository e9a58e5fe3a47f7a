"""BM25 ranked keyword retrieval over a document corpus.

The reference has no search surface (its closest analogue is the AQL
filter predicates it emits for conditional inserts,
/root/reference/edge_list_importer.py:28-34); corpus-scale keyword
retrieval is part of this graft's training-data toolkit (SURVEY §2.11):
curation queries ("which documents score highest for these terms"),
seed selection for quality classifiers, and decontamination-style
audits all start from exactly this operator.

Scale shape (the part that matters at 100 TB):

* ONE corpus scan.  Document length and the per-term hits are computed
  in the same projection; non-query tokens are filtered out with an
  ``array``-level lambda BEFORE the explode, so the generator emits
  ``O(docs x |query|)`` rows, not ``O(total tokens)``.
* The query-term list is a broadcast literal baked into the filter —
  no join for the probe.
* Corpus statistics (N, avgdl) are one scalar aggregate crossed back
  in as a broadcast single row.
* Both aggregations (tf per (doc, term), df per term) are hash
  aggregates with map-side partials; the final top-k is
  ``TakeOrderedAndProject`` (orderBy + limit) — no full sort, no
  window.

Scoring is classic Robertson BM25 with the Lucene-style non-negative
idf: ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_importer_spark.operators.textstats import normalize_text


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for a bag of ``query_terms``.

    Terms are matched against whitespace tokens of the md5-fingerprint
    normal form (lowercase, collapsed whitespace — the same
    tokenization the dedup operators use, so "the same word" means the
    same thing across the toolkit).  Returns
    ``(id_col, n_terms, score)`` sorted by ``(score desc, id)``;
    ``score`` is rounded to 4 decimals so it is stable across
    summation orders (the per-doc sum has at most ``len(query_terms)``
    addends).

    Documents matching none of the terms are not returned (their score
    is 0 and at web scale they are almost the whole corpus).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(t.lower() for t in query_terms))

    toks = F.split(normalize_text(F.col(text_col)), " ")
    hits_arr = F.filter(toks, lambda t: t.isin(terms) & (t != F.lit("")))
    base = docs.select(
        F.col(id_col),
        F.size(F.filter(toks, lambda t: t != F.lit(""))).alias("dl"),
        hits_arr.alias("hits"),
    )

    # One scalar row: corpus size + average document length.  Broadcast
    # back over the hit rows (never over the corpus).
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    # tf feeds both the scoring join and the document-frequency
    # aggregate; persist it (lazily — no job runs until first use) so
    # the corpus is not scanned once per consumer.  It holds at most
    # (docs-with-hits x |query|) short rows.
    tf = (
        base.select(id_col, "dl", F.explode("hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )

    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(idf * tf_norm), 4).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def tfidf_keywords(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_df: int = 2,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF —
    the keyword-extraction / topic-labeling primitive of corpus
    curation (and the feature map behind classic tf-idf document
    vectors).

    Scoring: ``score = (tf / dl) * (ln((1 + N) / (1 + df)) + 1)``
    (sklearn's smooth idf), rounded to 6 so cross-engine ordering is
    stable; ties broken by term ascending.  Terms outside
    ``[min_df, max_df_frac * N]`` document-frequency bounds are
    discarded first (rare-noise floor, corpus-stopword ceiling).

    Scale shape: unlike ``bm25_topk`` (which filters to the query terms
    BEFORE exploding), keyword extraction must see every token once —
    one corpus scan + explode, collapsed immediately by the (doc, term)
    partial aggregate (uniform keys).  The document-frequency table
    aggregates the already-collapsed tf rows; the df-filter join back
    is term-keyed (Zipf-hot terms are exactly the ones the
    ``max_df_frac`` ceiling deletes; AQE covers the join).  Per-doc
    top-k avoids a window sort: ``collect_list`` -> ``array_sort`` ->
    ``slice`` carries at most the doc's own distinct terms per group —
    bounded by document length, never by corpus size.

    Returns ``(id_col, rank, term, score)``, rank 1-based.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    toks = F.filter(toks, lambda t: t != F.lit(""))
    base = docs.select(
        F.col(id_col), toks.alias("toks"), F.size(toks).alias("dl")
    )
    tf = (
        base.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    stats = base.agg(F.count("*").alias("n_docs"))
    dfq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .filter(
            (F.col("df") >= F.lit(min_df))
            & (F.col("df") <= F.col("n_docs") * F.lit(max_df_frac))
        )
    )
    idf = F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    scored = tf.join(dfq, "term").select(
        id_col,
        F.col("term"),
        F.round((F.col("tf") / F.col("dl")) * idf, 6).alias("score"),
    )
    row = F.struct(F.col("score").alias("o"), F.col("term").alias("t"))
    cmp = (
        "(l, r) -> CASE WHEN l.o > r.o THEN -1 WHEN l.o < r.o THEN 1 "
        "WHEN l.t < r.t THEN -1 WHEN l.t > r.t THEN 1 ELSE 0 END"
    )
    top = (
        scored.groupBy(id_col)
        .agg(F.collect_list(row).alias("rows"))
        .select(
            id_col,
            F.posexplode(
                F.slice(F.expr(f"array_sort(rows, {cmp})"), 1, k)
            ).alias("rank0", "r"),
        )
    )
    return top.select(
        id_col,
        (F.col("rank0") + 1).alias("rank"),
        F.col("r.t").alias("term"),
        F.col("r.o").alias("score"),
    )


def rrf_fuse(
    runs: dict[str, DataFrame],
    id_col: str,
    score_col: str = "score",
    k_rrf: int = 60,
    decimals: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval runs (Cormack, Clarke
    & Buettcher, SIGIR'09): rrf(d) = sum over runs of 1/(k + rank_d),
    the standard zero-training ensemble of lexical + dense retrievers
    (or of query variants).  Returns (id, n_runs, rrf) — docs appearing
    in more runs and at better ranks float up; k=60 is the published
    default damping.

    Ranks are recomputed from (score desc, id asc) with a row_number
    window so ties resolve identically everywhere.  The window is
    GLOBAL but each run is a top-k result list — k rows, not a corpus —
    so the single-partition sort is a constant-size driver-side-scale
    step by construction; do NOT feed whole-corpus scored frames in
    (rank the top-k first).  The fusion itself is one union + one
    groupBy on the doc id, partial-agg friendly.
    """
    if not runs:
        raise ValueError("runs must be non-empty")
    parts = []
    for name in sorted(runs):
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        parts.append(
            runs[name].select(
                F.col(id_col), F.row_number().over(w).alias("rnk")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(id_col).agg(
        F.count("*").alias("n_runs"),
        F.round(
            F.sum(1.0 / (F.lit(float(k_rrf)) + F.col("rnk"))), decimals
        ).alias("rrf"),
    )


def build_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    max_df: int | None = None,
    max_postings: int | None = None,
) -> DataFrame:
    """Materialized inverted index -> one row per term:
    (term, df, total_tf, postings) where ``postings`` is the classic
    doc-ordered posting list serialized as "docid:tf docid:tf ..."
    (ascending doc id — the order a merge-join retrieval engine wants
    and delta/varbyte compression assumes).

    This is the at-rest form behind bm25_topk: score-time probes then
    read only their terms' rows instead of re-scanning the corpus.

    Scale shape: one corpus scan; tf per (doc, term) and the per-term
    roll-up are hash aggregates with map-side partials.  The posting
    ARRAY is built with sort_array over collect_list of (doc, tf)
    structs — per-term state, which is exactly the thing that blows up
    on stopword terms at web scale, so two guards are first-class:
    ``max_df`` drops terms appearing in more documents (stopword cut —
    the standard IR move; dropped terms are recoverable by lowering
    the cap), and ``max_postings`` keeps only the highest-tf postings
    per term (slice after a tf-descending sort), bounding per-term
    memory like the skew.salted_topk carry bound.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    tf = (
        docs.select(F.col(id_col).alias("doc"), F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc")
        .agg(F.count("*").alias("tf"))
    )
    if max_postings is not None:
        # keep the max_postings highest-tf docs per term (ties -> lower
        # doc id), then re-sort by doc id for the serialized list
        plist = F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("tf")).alias("ntf"),
                        F.col("doc").alias("doc"),
                        F.col("tf").alias("tf"),
                    )
                )
            ),
            1,
            max_postings,
        )
        plist = F.sort_array(
            F.transform(
                plist,
                lambda s: F.struct(s["doc"].alias("doc"), s["tf"].alias("tf")),
            )
        )
    else:
        plist = F.sort_array(
            F.collect_list(F.struct(F.col("doc").alias("doc"), F.col("tf").alias("tf")))
        )
    out = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.transform(
                plist,
                lambda s: F.concat_ws(":", s["doc"].cast("string"), s["tf"].cast("string")),
            ),
            " ",
        ).alias("postings"),
    )
    out = out.filter(F.col("df") >= min_df)
    if max_df is not None:
        out = out.filter(F.col("df") <= max_df)
    return out


def postings_delta(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Delta + varint compression audit of the inverted index (the
    gap-encoding every posting-list format from VByte to PForDelta
    builds on): per term, the doc-ordered posting list becomes first-id
    + ascending gaps; bytes are costed under 7-bit varint vs raw
    8-byte ids.

    Byte counting is ALL-INTEGER (CASE thresholds at 2^7, 2^14, ...,
    2^56 — the full varint ladder for bigint ids, since the FIRST list
    entry encodes the absolute doc id as a gap from 0 and any gap up to
    2^63-1 fits in 9 bytes; no float log), so the audit replays
    exactly.

    -> (term, df, raw_bytes, varint_bytes, ratio) with ratio rounded.

    Scale shape: (doc, term) distinct + term-keyed collect bounded by
    the same first-class ``max_df`` stopword guard as build_postings;
    the gap/byte math is per-term array codegen.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    dt = (
        docs.select(F.col(id_col).alias("doc"), F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    per = dt.groupBy("term").agg(
        F.sort_array(F.collect_list(F.col("doc").cast("bigint"))).alias("ids"),
        F.count("*").alias("df"),
    )
    per = per.filter(F.col("df") >= min_df)
    if max_df is not None:
        per = per.filter(F.col("df") <= max_df)
    gaps = F.transform(
        F.sequence(F.lit(1), F.size("ids")),
        lambda j: F.element_at(F.col("ids"), j)
        - F.when(j == 1, F.lit(0)).otherwise(
            F.element_at(F.col("ids"), j - 1)
        ),
    )
    vbytes = F.aggregate(
        gaps,
        F.lit(0).cast("bigint"),
        lambda acc, g: acc
        + F.when(g < 128, F.lit(1))
        .when(g < 16384, F.lit(2))
        .when(g < 2097152, F.lit(3))
        .when(g < 268435456, F.lit(4))
        .when(g < 34359738368, F.lit(5))  # 2^35
        .when(g < 4398046511104, F.lit(6))  # 2^42
        .when(g < 562949953421312, F.lit(7))  # 2^49
        .when(g < 72057594037927936, F.lit(8))  # 2^56
        .otherwise(F.lit(9)),  # every bigint gap is < 2^63
    )
    return per.select(
        "term",
        "df",
        (F.col("df") * 8).alias("raw_bytes"),
        vbytes.alias("varint_bytes"),
        F.round(vbytes / (F.col("df") * 8.0), 6).alias("ratio"),
    )


def extractive_summary(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    unit_tokens: int = 10,
    top_k: int = 2,
) -> DataFrame:
    """Extractive summarization, degree-centrality form (the first
    TextRank iteration, which on similarity graphs this dense already
    fixes the ranking): documents split into ``unit_tokens``-token
    units; unit score = Σ over OTHER units of the distinct-token
    overlap |Ti ∩ Tj|; top-``top_k`` units win (ties to the earlier
    unit) — the units other units keep re-stating are the summary.

    -> (id, unit_idx, score, unit_text), ``top_k`` rows per document.

    Scale shape: chunking is zero-shuffle array codegen; the pair
    stage joins UNITS WITHIN A DOCUMENT only (doc-keyed equi-join,
    ~ (len/unit)^2 rows per doc — bounded by document length, never
    cross-corpus); ranking is a per-doc window over those bounded
    units.
    """
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    units = (
        docs.select(F.col(id_col).alias("id"), toks.alias("_t"))
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.when(
                            F.size("_t") > 0,
                            F.floor((F.size("_t") - 1) / unit_tokens),
                        ).otherwise(F.lit(-1)),
                    ),
                    lambda j: F.slice("_t", j * unit_tokens + 1, unit_tokens),
                )
            ).alias("unit_idx", "_u"),
        )
        .select(
            "id",
            "unit_idx",
            F.array_distinct("_u").alias("_d"),
            F.array_join("_u", " ").alias("unit_text"),
        )
    )
    a = units.select(
        "id",
        F.col("unit_idx").alias("ui"),
        F.col("_d").alias("da"),
        F.col("unit_text").alias("ta"),
    )
    b = units.select(
        "id", F.col("unit_idx").alias("uj"), F.col("_d").alias("db")
    )
    scored = (
        a.join(b, "id")
        .filter(F.col("ui") != F.col("uj"))
        .groupBy("id", "ui", "ta")
        .agg(
            F.sum(F.size(F.array_intersect("da", "db"))).alias("score")
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("ui"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_k)
        .select(
            "id",
            F.col("ui").alias("unit_idx"),
            "score",
            F.col("ta").alias("unit_text"),
        )
    )


def hard_negatives(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    relevant: DataFrame,
    k: int = 20,
    n_neg: int = 5,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Hard-negative mining for retrieval training (the BM25-negatives
    recipe behind DPR/sentence-transformers training sets): run the
    lexical ranker, drop the known-relevant documents, keep the
    ``n_neg`` highest-ranked survivors — documents the ranker finds
    plausible but the labels reject, exactly the gradient-rich
    negatives.

    ``relevant`` is a one-column DataFrame of relevant doc ids.

    -> (doc id, score, rank, neg_rank): ``rank`` from the full run,
    ``neg_rank`` 1..n_neg after the anti-join.

    Scale shape: bm25_topk's one-scan plan + one anti-join against
    the (broadcastable) relevant set; the re-rank window runs over
    <= k rows.
    """
    top = bm25_topk(docs, id_col, text_col, query_terms, k=k, k1=k1, b=b)
    # rank over the <= k returned rows (bm25_topk orders but does not
    # number); window state is bounded by k
    wr = Window.orderBy(F.desc("score"), F.asc(id_col))
    ranked = top.withColumn("rank", F.row_number().over(wr))
    rel = relevant.select(F.col(relevant.columns[0]).alias(id_col))
    neg = ranked.join(F.broadcast(rel), id_col, "left_anti")
    w = Window.orderBy(F.asc("rank"))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= n_neg)
    )


def autocomplete_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_prefix: int = 2,
    max_prefix: int = 4,
    top_k: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Prefix -> top-``top_k`` completions index (the type-ahead /
    query-suggestion table, built corpus-side): vocabulary term counts
    explode into their length-``min_prefix``..``max_prefix`` prefixes;
    each prefix keeps its most frequent completions (ties to the
    lexicographically smaller term).

    -> (prefix, rank, term, n).

    Scale shape: the corpus collapses to ONE term-count aggregate
    (vocabulary-sized); the prefix fan-out is a constant <=
    (max-min+1) per term; the per-prefix top-k is a window over
    completions sharing the prefix — bounded by vocabulary, not
    corpus, and short-prefix hot groups route through
    ``skew.salted_topk`` at web vocabulary sizes (stated).
    """
    nf = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    vocab = (
        docs.select(F.explode(F.split(nf, " ")).alias("term"))
        .filter(F.col("term").rlike("^[a-z]+$"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    pref = vocab.select(
        "term",
        "n",
        F.explode(
            F.transform(
                # k must not exceed the term length: substring saturates
                # at the full term, which would emit duplicate prefixes
                # for short terms
                F.filter(
                    F.sequence(F.lit(min_prefix), F.lit(max_prefix)),
                    lambda k: k <= F.length("term"),
                ),
                lambda k: F.substring(F.col("term"), 1, k),
            )
        ).alias("prefix"),
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), F.asc("term"))
    return (
        pref.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("prefix", "rank", "term", "n")
    )


def qlm_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    mu: float = 256.0,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty SIGIR'01 — the language-modeling ranker next to BM25):
    score(d) = Σ_t ln((tf + mu * p_c(t)) / (dl + mu)) over the query
    terms, p_c the collection unigram model.  Terms absent from the
    collection contribute nothing (their p_c is 0 for every doc —
    a constant shift dropped for rank stability).

    Unlike BM25, every document scores on EVERY query term (the
    smoothing term), so the per-doc sum is over the full query — a
    missing term still penalizes via ln(mu p_c / (dl + mu)).

    -> (id, n_terms_present, score) top-k by (score desc, id),
    score rounded to 4.

    Scale shape: identical to bm25_topk — one corpus scan with the
    array-level term filter, tf/df partial aggs, broadcast collection
    stats; the full-query scoring pivots the <= |query| tf rows per
    doc into a map (per-doc state bounded by the query length).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(t.lower() for t in query_terms))
    toks = F.split(normalize_text(F.col(text_col)), " ")
    hits_arr = F.filter(toks, lambda t: t.isin(terms) & (t != F.lit("")))
    base = docs.select(
        F.col(id_col),
        F.size(F.filter(toks, lambda t: t != F.lit(""))).alias("dl"),
        hits_arr.alias("hits"),
    )
    stats = base.agg(
        F.sum("dl").alias("c_len"),
    )
    tf = (
        base.select(id_col, "dl", F.explode("hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    ctf = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    # per-doc term->tf map over the bounded per-doc hit rows
    doc_tf = tf.groupBy(id_col, "dl").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("term", "tf")))
        ).alias("_m")
    )
    # docs with no hits still rank (all-smoothing scores); bring them in
    all_docs = base.select(id_col, "dl").join(
        doc_tf.select(id_col, "_m"), id_col, "left"
    )
    cl = ctf.crossJoin(F.broadcast(stats)).select(
        "term", (F.col("ctf") / F.col("c_len")).alias("pc")
    )
    pcs = {r["term"]: r["pc"] for r in cl.collect()}
    present = [t for t in terms if t in pcs]
    score = F.lit(0.0)
    npresent = F.lit(0)
    for t in present:
        tf_t = F.coalesce(
            F.element_at(F.col("_m"), F.lit(t)), F.lit(0)
        ).cast("double")
        score = score + F.log(
            (tf_t + F.lit(float(mu)) * F.lit(float(pcs[t])))
            / (F.col("dl") + F.lit(float(mu)))
        )
        npresent = npresent + (tf_t > 0).cast("int")
    scored = all_docs.select(
        F.col(id_col),
        npresent.alias("n_terms_present"),
        F.round(score, 4).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def kwic_concordance(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    term: str,
    window: int = 3,
    max_hits_per_doc: int = 5,
) -> DataFrame:
    """Keyword-in-context concordance (the corpus linguist's / data
    auditor's grep-with-context): every occurrence of ``term`` (token
    -exact over the dedup normal form) with ``window`` tokens of left
    and right context — the eyeballing surface behind lexicon
    tuning, PII rule review, and decontamination spot checks.

    -> (id, hit_idx, position, left_ctx, right_ctx),
    ``max_hits_per_doc`` bounds the per-document fan-out (stated).

    Scale shape: position finding and both context slices are
    zero-shuffle per-row array expressions; only the final hit rows
    explode.
    """
    t = term.lower()
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda x: x != ""
    )
    d = docs.select(F.col(id_col).alias("id"), toks.alias("_t"))
    pos = F.slice(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("_t"), F.lit(1))),
                lambda i: F.when(
                    F.element_at(F.col("_t"), i) == t, i
                ),
            ),
            lambda p: p.isNotNull(),
        ),
        1,
        max_hits_per_doc,
    )
    hits = d.filter(F.size("_t") > 0).select(
        "id", "_t", F.posexplode(pos).alias("hit_idx", "p")
    )
    left = F.array_join(
        F.slice(
            F.col("_t"),
            F.greatest(F.col("p") - window, F.lit(1)),
            F.least(F.lit(window), F.col("p") - 1),
        ),
        " ",
    )
    right = F.array_join(
        F.when(
            F.col("p") < F.size("_t"),
            F.slice(F.col("_t"), F.col("p") + 1, window),
        ).otherwise(F.array().cast("array<string>")),
        " ",
    )
    return hits.select(
        "id",
        F.col("hit_idx").cast("int").alias("hit_idx"),
        F.col("p").cast("int").alias("position"),
        left.alias("left_ctx"),
        right.alias("right_ctx"),
    )
