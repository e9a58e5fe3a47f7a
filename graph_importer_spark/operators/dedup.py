"""Deduplication operators for web-scale corpora.

Exact, fingerprint, MinHash-LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — each a composition of built-in DataFrame
ops.  Hashing for the oracle-checked paths is md5 (bit-identical string
semantics in Spark and DuckDB); the scale paths use xxhash64 (~10x
cheaper, JVM-side).

Scale shape notes (100 TB):
* exact/fingerprint dedup: one hash-aggregate, map-side partial —
  the canonical groupBy, no skew issue (hash keys are uniform).
* MinHash-LSH: shingle explode multiplies rows by ~doc_len; the
  signature aggregate reduces back to n_docs x n_seeds before any join.
  Band-bucket join is an equi-join on (band, key) — bucket sizes are
  the classic skew risk (boilerplate-heavy corpora); cap bucket size
  with a count filter before the pair join (``max_bucket``).
* pair generation is within-bucket self-join with id1 < id2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_importer_spark.operators.textstats import (
    fingerprint,
    normalize_text,
    winnow_fingerprints,
)


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (text-key rows) with n_dups >= 2
    and the keeper (min id). One hash aggregate."""
    return (
        df.groupBy(F.col(text_col).alias("dup_text"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper"))
        .filter(F.col("n_dups") >= 2)
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-exact dedup on normalized-text md5: one row per fingerprint,
    keeper = min id (deterministic)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_docs"))
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles of the normalized text per doc.

    The token array is let-bound (textstats.let_bind) so the
    normalize+split expression evaluates once per document instead of
    once per shingle position — the interpreted-HOF CollapseProject
    trap documented at winnow_fingerprints (O(len^2) regexp per doc
    otherwise; this path feeds MinHash and Jaccard, so the fix
    compounds)."""
    from graph_importer_spark.operators.textstats import let_bind

    sh = let_bind(
        F.split(normalize_text(F.col(text_col)), " "),
        lambda toks: F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " "))),
    )
    return (
        df.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    sh: DataFrame, id_col: str, n_hashes: int = 12
) -> DataFrame:
    """(id, seed, minhash): minhash_s = min over shingles of
    md5(seed || '|' || shingle) — a string min, uniform because md5 is;
    identical formula replays in DuckDB."""
    seeded = sh.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed"),
        "shingle",
    )
    h = F.md5(
        F.encode(F.concat_ws("|", F.col("seed").cast("string"), "shingle"), "UTF-8")
    )
    return seeded.groupBy(id_col, "seed").agg(F.min(h).alias("minhash"))


def lsh_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bkey) LSH band keys: rows_per_band = n_hashes/bands,
    band key = md5 of the seed-ordered concat of the band's minhashes.
    The shared core of within-corpus pairing (``lsh_candidate_pairs``)
    and the persistent index/probe split below."""
    r = n_hashes // bands
    sigs = minhash_signatures(shingles(df, id_col, text_col, k), id_col, n_hashes)
    banded = sigs.withColumn("band", (F.col("seed") / r).cast("int"))
    return banded.groupBy(id_col, "band").agg(
        F.md5(
            F.encode(
                F.array_join(F.array_sort(F.collect_list(F.struct("seed", "minhash"))).getField("minhash"), "|"),
                "UTF-8",
            )
        ).alias("bkey")
    )


def lsh_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Persistent LSH index for INCREMENTAL dedup: ``(id, band, bkey,
    bucket_n)`` — write this next to the corpus (ideally bucketed by
    (band, bkey)) and new batches dedup against it via ``lsh_probe``
    without ever rescanning corpus text.

    This is the iterate-on-the-corpus primitive: re-deduping 100 TB to
    admit a 1 TB delivery is the quadratic trap; probing the stored
    band index costs one scan of the BATCH plus an equi-join into the
    index.  ``bucket_n`` (the bucket's corpus-side population) is
    computed once here, at build time, so every probe gets its
    boilerplate-skew guard for free instead of re-counting the index.
    """
    keys = lsh_band_keys(df, id_col, text_col, k, n_hashes, bands)
    counts = keys.groupBy("band", "bkey").agg(
        F.count("*").alias("bucket_n")
    )
    return keys.join(counts, ["band", "bkey"]).select(
        id_col, "band", "bkey", "bucket_n"
    )


def lsh_probe(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Probe a NEW batch against a stored ``lsh_band_index``:
    ``(new_id, corpus_id)`` candidate near-dup links, distinct.

    The batch pays shingle -> minhash -> band keys (one scan of the
    batch only); the corpus side is the pre-built index, filtered by
    its build-time ``bucket_n`` guard (degenerate boilerplate buckets
    are a recall trade, same contract as ``lsh_candidate_pairs``).
    Hash/band parameters MUST match the index build — band keys are
    md5s of parameter-dependent signatures, so a mismatch silently
    yields zero matches; persist the parameters with the index.
    """
    probe = lsh_band_keys(batch, id_col, text_col, k, n_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band", "bkey"
    )
    idx = index.filter(F.col("bucket_n") <= max_bucket).select(
        F.col(id_col).alias("corpus_id"), "band", "bkey"
    )
    return (
        probe.join(idx, ["band", "bkey"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: (id1, id2) sharing >= 1 band.

    rows_per_band = n_hashes / bands; band key = md5 of the ordered
    concat of the band's minhashes. ``max_bucket`` drops degenerate
    buckets (boilerplate skew guard) — dropped buckets are a recall
    trade documented at the call site, not silent: count them via
    ``.filter(col('bucket_n') > max_bucket)`` if needed.
    """
    keys = lsh_band_keys(df, id_col, text_col, k, n_hashes, bands)
    # Degenerate-bucket guard without a window: counting per key via
    # count().over() re-shuffles and SORTS every (id, band) row; the
    # offending buckets are the skew tail (few by construction), so a
    # partial-agg count + broadcast anti-join is the scale-safe form.
    hot = (
        keys.groupBy("band", "bkey")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
        .select("band", "bkey")
    )
    small = keys.join(F.broadcast(hot), ["band", "bkey"], "left_anti").select(
        id_col, "band", "bkey"
    )
    a = small.select(F.col(id_col).alias("id1"), "band", "bkey")
    b = small.select(F.col(id_col).alias("id2"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|), computed from counts —
    the shared-shingle equi-join is the blocker (no all-pairs cross).
    Returns (id1, id2, jaccard) with jaccard >= threshold, rounded to 6.

    ``max_df`` is the hot-key guard for corpus scale: a shingle present
    in > max_df documents ("the end of the", boilerplate) would form an
    O(df^2) join bucket — with it set, such shingles are excluded from
    the PAIR JOIN (sizes still count every shingle, so the reported
    jaccard becomes a lower bound and pairs sharing ONLY ubiquitous
    shingles are missed: the standard df-capped blocking approximation,
    stated rather than silent).  None = exact (small-corpus default).
    """
    sh = shingles(df, id_col, text_col, k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    joinable = sh
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        joinable = sh.join(
            dfreq.filter(F.col("df") <= max_df).select("shingle"), "shingle"
        )
    a = joinable.select(F.col(id_col).alias("id1"), "shingle")
    b = joinable.select(F.col(id_col).alias("id2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("i"))
    )
    n1 = sizes.select(F.col(id_col).alias("id1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col(id_col).alias("id2"), F.col("n").alias("n2"))
    return (
        inter.join(n1, "id1")
        .join(n2, "id2")
        .select(
            "id1",
            "id2",
            F.round(F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    decimals: int = 6,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (Chaudhuri,
    Ganti & Kaushik ICDE'06; the candidate-generation core of PPJoin,
    Xiao et al. WWW'08): order each doc's shingle set by ascending
    document frequency (rarest first, ties by shingle) and keep only
    the first |T| - ceil(t*|T|) + 1 tokens as its PREFIX; any pair with
    Jaccard >= t must share a prefix token, so the equi-join on prefix
    tokens is a COMPLETE candidate generator — unlike ``max_df``-capped
    shingle blocking (ngram_jaccard_pairs), nothing is missed and no
    tuning knob trades recall.  Candidates are then verified with the
    exact set Jaccard.  Returns (id1, id2, jaccard >= t, rounded).

    Scale shape: one df aggregate, one df-join + per-doc sort (bounded
    by doc length, codegen sort_array), prefix explode (each doc
    contributes ~(1-t)|T| rows), and the candidate equi-join keyed on
    the RAREST tokens by construction — exactly the keys with the
    smallest buckets; ubiquitous boilerplate shingles sit at the tail
    of every prefix order and only enter the join for docs so short
    (or t so low) that they must.  Verification joins the two bounded
    per-doc arrays and intersects them JVM-side (array_intersect) —
    no second corpus-wide shuffle.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    sh = shingles(df, id_col, text_col, k)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy(F.col(id_col).alias("_id"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "shingle"))),
                lambda s: s.getField("shingle"),
            ).alias("toks")
        )
        # lazy: materializes at the first action (once, shared by the
        # prefix and verify sides) instead of running jobs as a
        # side effect of building the plan — the semantic_dup_pairs
        # lesson from the round-3 advice
    ).localCheckpoint(eager=False)
    plen = (
        F.size("toks")
        - F.ceil(F.lit(float(threshold)) * F.size("toks")).cast("int")
        + 1
    )
    pref = ordered.select(
        "_id", F.explode(F.slice("toks", 1, plen)).alias("tok")
    )
    cand = (
        pref.select(F.col("_id").alias("id1"), "tok")
        .join(pref.select(F.col("_id").alias("id2"), "tok"), "tok")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    ta = ordered.select(F.col("_id").alias("id1"), F.col("toks").alias("ta"))
    tb = ordered.select(F.col("_id").alias("id2"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    j = inter.cast("double") / union
    return (
        cand.join(ta, "id1")
        .join(tb, "id2")
        .filter(j >= threshold)
        .select("id1", "id2", F.round(j, decimals).alias("jaccard"))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= k via the
    pigeonhole block join (Manku, Jain & Das Sarma, WWW'07 — Google's
    web-crawl near-dup detector): split the 60-bit signature into k+1
    equal blocks; any pair within Hamming k must agree EXACTLY on at
    least one block, so k+1 equi-joins on (block_idx, block_bits) form
    a COMPLETE candidate generator.  Candidates verify with
    bit_count(xor) — one int64 instruction pair per candidate.
    Returns (id1, id2, hamming <= max_hamming).

    Scale shape: signatures are one row per doc (simhash64's vote
    aggregate does the text-volume work); the candidate join keys on
    15-bit block values — 2^15 buckets per block index, uniform for
    hash bits, so no hot keys; candidates ~ n^2/2^width per block only
    for truly-similar mass.  Everything stays in whole-stage codegen —
    no UDF, no array ops.
    """
    from graph_importer_spark.operators.textstats import SIMHASH_BITS, simhash64

    n_blocks = max_hamming + 1
    if SIMHASH_BITS % n_blocks != 0:
        raise ValueError(
            f"max_hamming+1 must divide {SIMHASH_BITS} (got {n_blocks})"
        )
    width = SIMHASH_BITS // n_blocks
    mask = (1 << width) - 1
    sigs = simhash64(df, id_col, text_col).localCheckpoint(eager=False)
    blocks = sigs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("i"),
        "simhash",
    ).select(
        "_id",
        "i",
        F.expr(f"shiftright(simhash, cast(i * {width} as int)) & {mask}").alias(
            "blk"
        ),
    )
    cand = (
        blocks.select(F.col("_id").alias("id1"), "i", "blk")
        .join(blocks.select(F.col("_id").alias("id2"), "i", "blk"), ["i", "blk"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    s1 = sigs.select(F.col(id_col).alias("id1"), F.col("simhash").alias("h1"))
    s2 = sigs.select(F.col(id_col).alias("id2"), F.col("simhash").alias("h2"))
    ham = F.bit_count(F.expr("h1 ^ h2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .filter(ham <= max_hamming)
        .select("id1", "id2", ham.cast("int").alias("hamming"))
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs sharing >= ``min_shared`` winnowing
    fingerprints (the MOSS match heuristic over
    [[winnow_fingerprints]]).

    The fp_hash equi-join is the blocker — no all-pairs cross; each
    fingerprint counts once per document (positions collapsed) so
    n_shared is the number of distinct shared fingerprints.  ``max_df``
    excludes fingerprints present in > max_df documents from the pair
    join (boilerplate guard, same stated df-capped approximation as
    ngram_jaccard_pairs — pairs sharing ONLY ubiquitous fingerprints
    are missed).  Returns (id1, id2, n_shared) with id1 < id2.
    """
    fp = winnow_fingerprints(df, id_col, text_col, k, w).select(
        id_col, "fp_hash"
    ).distinct()
    if max_df is not None:
        dfreq = fp.groupBy("fp_hash").agg(F.count("*").alias("df"))
        fp = fp.join(
            dfreq.filter(F.col("df") <= max_df).select("fp_hash"), "fp_hash"
        )
    a = fp.select(F.col(id_col).alias("id1"), "fp_hash")
    b = fp.select(F.col(id_col).alias("id2"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_clusters(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    small_graph_rows: int = 200_000,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters and pick one keeper each —
    the step every real dedup pipeline needs after candidate generation
    (pairs are transitive evidence: A~B and B~C must drop two of
    {A,B,C}, not one, even though (A,C) was never emitted).

    Connected components over the pair graph (cc.connected_components —
    the same large-star/small-star loop as canonicalization, so the
    1000-executor scale argument carries over verbatim); cluster id =
    min member id.  Returns (doc_id, keeper, is_dup) for every document
    that appears in >= 1 pair; is_dup marks the rows a filter join
    would drop.  Docs in no pair never enter the CC input (pairs are
    tiny relative to the corpus — the expensive part was candidate
    generation, not this).

    Pair graphs at or below ``small_graph_rows`` skip the iterative
    loop entirely: ``cc.connected_components_single`` computes the
    identical labels by union-find in ONE executor-side task (one job
    vs one localCheckpoint job per star round — the dominant fixed
    cost on small candidate sets, the common case: pairs are a
    vanishing fraction of the corpus).  The pair graph is materialized
    exactly once either way (the count rides along on the same
    checkpoint job CC needs anyway).
    """
    from graph_importer_spark.cc import _checkpoint_fp, connected_components

    uv, (n_pairs, _) = _checkpoint_fp(
        pairs.select(F.col(id1).alias("u"), F.col(id2).alias("v"))
    )
    edges = uv.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    labels = connected_components(edges, single_task=n_pairs <= small_graph_rows)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("keeper"),
        (F.col("id") != F.col("component")).alias("is_dup"),
    )


def semantic_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    seed: int = 42,
    max_list_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    cluster embeddings with the deterministic IVF coarse quantizer,
    compare pairs only WITHIN a cluster, keep cosine >= threshold.

    This is the scale path next to ``embedding_near_dup_pairs`` (the
    all-pairs baseline): with C clusters the pair join is bucketed on
    list_id, so candidate volume is ~n^2/C instead of n^2, and each
    bucket's pairs are produced by one equi-join — the exact SemDeDup
    design point.  Approximation is the published one and is stated,
    not silent: a near-dup pair split across two clusters is missed.

    ``n_centroids=None`` (the default) derives C = max(8, floor(sqrt(n)))
    from one corpus count — the FAISS rule of thumb as code, so the
    within-list pair volume stays ~n^1.5 instead of silently degrading
    to all-pairs when a caller forgets the knob at real scale.  Pass an
    explicit value to skip the count job (plan construction is then
    fully lazy).

    Cluster sizes inherit the data's density skew; ``max_list_size``
    drops vectors in inverted lists larger than the cap from the pair
    join (mirrors ``lsh_candidate_pairs``' ``max_bucket``): one dense
    cell on a near-dup-heavy corpus would otherwise make the self-join
    O(list^2).  The dropped-list recall trade is the stated df-capped
    blocking approximation, not silent — count offenders via
    ``ivf_assign(...).groupBy('list_id').count()`` if needed.  None
    disables the cap (exact within-cluster semantics).

    The assignment is persisted (lazily — no Spark job runs until the
    result is consumed) because both sides of the pair self-join read
    it and Spark plans no ReusedExchange across the two aliases:
    without it the corpus is scanned and assigned TWICE.  ``persist``
    rather than ``localCheckpoint`` so blocks lost with an executor are
    recomputed from lineage instead of failing the job; the cache is
    released by Spark's LRU once the join finishes reading it.
    """
    from graph_importer_spark.operators.similarity import (
        cosine,
        default_n_centroids,
        ivf_assign,
        ivf_centroids,
        with_norm,
    )

    c = with_norm(emb, id_col, vec_col, "neighbor_id", "cv", "cn")
    if n_centroids is None:
        c = c.persist()
        n_centroids = default_n_centroids(c.count())
    cents = ivf_centroids(c, n_centroids, seed)
    a = ivf_assign(c, cents).persist()
    if max_list_size is not None:
        # Hot-list cap WITHOUT a window: a per-row count().over(list_id)
        # shuffles and sorts the entire assignment; the offender set is
        # by construction tiny (it's the skew tail), so a partial-agg
        # count + broadcast anti-join removes the same rows with zero
        # corpus-side sort and no second full-width exchange.
        hot = (
            a.groupBy("list_id")
            .agg(F.count("*").alias("list_n"))
            .filter(F.col("list_n") > max_list_size)
            .select("list_id")
        )
        a = a.join(F.broadcast(hot), "list_id", "left_anti")
    left = a.select(
        "list_id",
        F.col("neighbor_id").alias("id1"),
        F.col("cv").alias("v1"),
        F.col("cn").alias("n1"),
    )
    right = a.select(
        "list_id",
        F.col("neighbor_id").alias("id2"),
        F.col("cv").alias("v2"),
        F.col("cn").alias("n2"),
    )
    return (
        left.join(right, "list_id")
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(cosine("v1", "v2", "n1", "n2"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    seed: int = 42,
    max_list_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup end-to-end: cluster -> within-cluster pairs ->
    transitive clusters -> one keeper per cluster.  Returns
    (doc_id, keeper, is_dup) for every id that appears in a pair.
    Parameter semantics (sqrt(n) centroid default, hot-list cap) are
    ``semantic_dup_pairs``'."""
    pairs = semantic_dup_pairs(
        emb, id_col, vec_col, threshold, n_centroids, seed, max_list_size
    )
    return dup_clusters(pairs)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= threshold.

    Brute-force all-pairs (correctness baseline; the ANN path lives in
    similarity.py). Dot/norm via zip_with + aggregate — JVM higher-order
    functions, no Python.
    """
    from graph_importer_spark.operators.similarity import with_norm, cosine

    a = with_norm(emb, id_col, vec_col, "id1", "v1", "nrm1")
    b = with_norm(emb, id_col, vec_col, "id2", "v2", "nrm2")
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    return pairs.select(
        "id1",
        "id2",
        F.round(cosine("v1", "v2", "nrm1", "nrm2"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def duplicate_line_removal(
    df: DataFrame, id_col: str, lines_col: str
) -> DataFrame:
    """C4-style duplicate-line removal (Raffel et al. 2020 §2.2: any
    three-sentence span occurring more than once in the corpus is kept
    only the first time; here the unit is a caller-supplied line/span
    array so the same operator covers lines, sentences, or fixed-word
    chunks).

    A line OCCURRENCE is kept iff its (doc, position) is the global
    minimum over all occurrences of that exact line — deterministic
    first-occurrence-wins at any partitioning.  Returns one row per doc:
    ``(id, n_lines, n_kept, clean_text)`` where clean_text re-joins the
    kept lines in original order with ``\\n``.

    Scale shape (100 TB): one posexplode (rows x lines/doc), one
    line-keyed aggregate (map-side partial; keys are content hashes —
    uniform except boilerplate hot lines, which is exactly what the
    operator removes), one equi-join back on the line key, one doc-keyed
    reassembly aggregate.  No window over the corpus, no driver state.
    The reference's per-bulk client-side dedup loop
    (edge_list.py:47-58) is the row-at-a-time ancestor of this shape.
    """
    occ = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(lines_col).alias("_pos", "_line"),
    )
    keeper = occ.groupBy("_line").agg(
        F.min(F.struct("_doc", "_pos")).alias("_keep")
    )
    kept = occ.join(keeper, "_line").withColumn(
        "_is_kept",
        (F.col("_doc") == F.col("_keep._doc")) & (F.col("_pos") == F.col("_keep._pos")),
    )
    return (
        kept.groupBy(F.col("_doc").alias(id_col))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("_is_kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_is_kept"), F.struct("_pos", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )


def edit_distance_pairs(
    df: DataFrame, id_col: str, s_col: str, k: int = 1
) -> DataFrame:
    """COMPLETE edit-distance-<=1 similarity self-join -> (id1, id2,
    dist) with id1 < id2 — the fuzzy-match primitive under entity
    resolution (typo'd names, OCR'd titles).

    Blocking is PassJoin-style (Li, Deng, Wang, Feng — ICDE'11 /
    VLDB'12 partition scheme), specialized to k = 1: split each source
    string into 2 segments; if ed(s, t) <= 1 then t CONTAINS one of
    s's segments at a start position within +-1 of its position in s.
    The probe side therefore enumerates, for each candidate source
    length L in [len(t)-1, len(t)+1], the substrings of t at the
    (clipped) +-1 windows of both segment positions — a bounded
    <= ~15-key explode per string, joined on (L, segment_idx, start
    bucket is implicit in the enumerated substring).  This is a
    COMPLETE candidate generator (no recall knob): the oracle proves
    it by comparing against the brute all-pairs levenshtein join.

    Verify is one ``levenshtein`` call per candidate (JVM codegen).
    Scale shape: segment keys are near-uniform (substring content);
    the verify never sees more than the candidates sharing an exact
    segment — the same bucket-join argument as MinHash bands, but
    with a completeness proof instead of a recall trade.
    """
    if k != 1:
        raise ValueError("edit_distance_pairs implements k=1 only")
    s = F.col("s")
    base = df.select(F.col(id_col).alias("id"), F.col(s_col).alias("s")).filter(
        s.isNotNull() & (F.length(s) >= 2)
    )
    # index side: the 2 segments at their canonical positions
    idx = base.select(
        "id",
        "s",
        F.length("s").alias("len"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("seg_idx"),
                    F.expr("substring(s, 1, CAST(length(s) / 2 AS INT))").alias(
                        "seg"
                    ),
                ),
                F.struct(
                    F.lit(2).alias("seg_idx"),
                    F.expr(
                        "substring(s, CAST(length(s) / 2 AS INT) + 1,"
                        " length(s))"
                    ).alias("seg"),
                ),
            )
        ).alias("p"),
    ).select("id", "s", F.col("len").alias("src_len"), "p.seg_idx", "p.seg")
    # probe side: substrings of t at the +-1 windows for every
    # candidate source length
    probe = base.select(
        F.col("id").alias("tid"),
        F.col("s").alias("t"),
        F.explode(
            F.expr(
                """
                flatten(transform(sequence(length(s) - 1, length(s) + 1),
                  L -> concat(
                    transform(sequence(1, 2),
                      st -> struct(L AS src_len, 1 AS seg_idx,
                                   substring(s, st, CAST(L / 2 AS INT)) AS seg)),
                    transform(sequence(CAST(L / 2 AS INT), CAST(L / 2 AS INT) + 2),
                      st -> struct(L AS src_len, 2 AS seg_idx,
                                   substring(s, st, L - CAST(L / 2 AS INT)) AS seg))
                  )))
                """
            )
        ).alias("q"),
    ).select("tid", "t", "q.src_len", "q.seg_idx", "q.seg")
    cand = (
        idx.join(probe, ["src_len", "seg_idx", "seg"])
        .filter(F.col("id") != F.col("tid"))
        .select(
            F.least("id", "tid").alias("id1"),
            F.greatest("id", "tid").alias("id2"),
            "s",
            "t",
        )
        .distinct()
    )
    return (
        cand.select(
            "id1", "id2", F.levenshtein("s", "t").alias("dist")
        )
        .filter(F.col("dist") <= k)
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    decimals: int = 6,
) -> DataFrame:
    """EXACT shingle-containment join: pairs (a, b) where doc a's
    k-shingle set is >= ``threshold`` contained in doc b's
    (|A ∩ B| / |A| >= t) — the ASYMMETRIC near-dup relation Jaccard
    misses: a page quoting a whole article, a chunk extracted from a
    longer doc, boilerplate-wrapped syndication.  Training-data dedup
    wants these (drop the contained copy, keep the superset).

    Candidate generation is the overlap prefix filter (Chaudhuri
    ICDE'06): required overlap o = ceil(t * |A|); any |A| - o + 1
    shingles of A must intersect B if overlap >= o, so probing with
    A's |A| - o + 1 RAREST shingles against the full shingle index is
    COMPLETE.  Verification is the exact set intersection.
    -> (id_a, id_b, containment) with id_a the contained doc,
    id_a != id_b (both directions can emit when sizes allow).

    Scale shape: the probe side explodes only ~(1-t)|A| + 1 rarest
    shingles per doc; the index side is the full distinct-shingle
    table — the published index-everything/probe-prefix shape for
    overlap joins.  The join keys on A's rarest shingles (ascending-df
    prefix order), so bucket sizes stay small; verification intersects
    two bounded per-doc arrays JVM-side.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    sh = shingles(df, id_col, text_col, k)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy(F.col(id_col).alias("_id"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "shingle"))),
                lambda s: s.getField("shingle"),
            ).alias("toks")
        )
        .localCheckpoint(eager=False)  # lazy; shared probe/verify
    )
    plen = (
        F.size("toks")
        - F.ceil(F.lit(float(threshold)) * F.size("toks")).cast("int")
        + 1
    )
    probe = ordered.select(
        F.col("_id").alias("id_a"), F.explode(F.slice("toks", 1, plen)).alias("shingle")
    )
    cand = (
        probe.join(sh.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = ordered.select(F.col("_id").alias("id_a"), F.col("toks").alias("ta"))
    tb = ordered.select(F.col("_id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    c = inter.cast("double") / F.size("ta")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(c >= threshold)
        .select("id_a", "id_b", F.round(c, decimals).alias("containment"))
    )


def keep_superset(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Containment keeper rule: given :func:`containment_pairs` output
    (id_a contained in id_b), drop every doc that is contained in a
    STRICTLY LARGER doc (ties by smaller id win) — keep the maximal
    supersets, the convention for excerpt/quote dedup (keep the
    article, drop the pulled quote).

    The rule is one-shot, not transitive closure: a is dropped iff
    some single superset pair witnesses it.  Chains (a ⊂ b ⊂ c) still
    resolve — b's witness is c, a's witness is b — and the kept set is
    exactly the docs with no larger container, independent of whether
    the container itself survives (documented difference from
    :func:`dup_clusters`' connected-components keeper, which treats
    near-dup symmetrically).

    -> (id, n_chars, kept, kept_by): ``kept_by`` = the largest
    (size, then smallest-id) container for dropped docs, NULL for
    kept ones.

    Scale shape: sizes are a zero-shuffle projection; the verdict is
    ONE pair-keyed join attaching both sizes + ONE id_a-keyed max_by
    aggregate (partial-agg) + ONE left join back onto the corpus.
    """
    sizes = df.select(
        F.col(id_col).alias("_id"), F.length(text_col).alias("n_chars")
    )
    both = (
        pairs.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("n_chars").alias("_sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("n_chars").alias("_sb")),
            "id_b",
        )
        .filter(
            (F.col("_sb") > F.col("_sa"))
            | ((F.col("_sb") == F.col("_sa")) & (F.col("id_b") < F.col("id_a")))
        )
    )
    witness = both.groupBy(F.col("id_a").alias("_id")).agg(
        F.max_by(
            "id_b", F.struct(F.col("_sb").alias("s"), (-F.col("id_b")).alias("t"))
        ).alias("kept_by")
    )
    return (
        sizes.join(witness, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_chars",
            F.col("kept_by").isNull().alias("kept"),
            "kept_by",
        )
    )


def lsh_plan(
    spark,
    threshold: float,
    n_perm_max: int = 144,
    target_recall: float = 0.95,
    fp_jaccard: float = 0.2,
    decimals: int = 6,
) -> DataFrame:
    """MinHash-LSH parameter planner: enumerate every (bands b, rows r)
    with b*r <= ``n_perm_max`` and compute the S-curve collision
    probability 1 - (1 - s^r)^b at s = ``threshold`` (recall on true
    pairs) and at s = ``fp_jaccard`` (false-positive rate on unrelated
    pairs) — the standard MMDS ch.3 planning table.  ``chosen`` marks
    the cheapest feasible plan: recall >= target, minimizing total
    permutations b*r, ties to fewer bands (fewer buckets), then
    smaller r.

    -> (b, r, n_perm, recall, fp_rate, chosen).  Feed the chosen
    (b, r) to minhash_signatures/lsh_band_keys.  Driver-side tiny
    (the grid is ~n_perm_max * divisors rows), but kept relational so
    the planning table itself is queryable and oracle-replayable.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    grid = (
        spark.range(1, n_perm_max + 1)
        .withColumnRenamed("id", "b")
        .crossJoin(
            spark.range(1, n_perm_max + 1).withColumnRenamed("id", "r")
        )
        .filter(F.col("b") * F.col("r") <= n_perm_max)
    )
    def s_curve(s: float):
        return F.lit(1.0) - F.pow(
            F.lit(1.0) - F.pow(F.lit(float(s)), F.col("r").cast("double")),
            F.col("b").cast("double"),
        )
    scored = grid.select(
        "b",
        "r",
        (F.col("b") * F.col("r")).alias("n_perm"),
        F.round(s_curve(threshold), decimals).alias("recall"),
        F.round(s_curve(fp_jaccard), decimals).alias("fp_rate"),
    )
    feasible = scored.filter(F.col("recall") >= target_recall)
    best = feasible.orderBy(
        F.col("n_perm").asc(), F.col("b").asc(), F.col("r").asc()
    ).limit(1).select(
        F.col("b").alias("_bb"), F.col("r").alias("_br"), F.lit(True).alias("chosen")
    )
    return (
        scored.join(
            F.broadcast(best),
            (F.col("b") == F.col("_bb")) & (F.col("r") == F.col("_br")),
            "left",
        )
        .select(
            "b", "r", "n_perm", "recall", "fp_rate",
            F.coalesce("chosen", F.lit(False)).alias("chosen"),
        )
    )


def diverse_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 4,
) -> DataFrame:
    """Coverage-maximizing diversity sample: keep ONE document per
    MinHash bucket (a single band of ``n_hashes`` rows — bucket
    collision probability = J^n_hashes, so near-identical docs share a
    bucket and only one survives).  The cheap "spread the sample
    across content space" selector used when a training mix wants
    breadth rather than uniform rates — the one-band special case of
    the LSH dedup machinery, reusing its md5-replayable signatures.

    -> (bucket, keeper, n_docs): one row per non-empty bucket, keeper
    = smallest id (deterministic), n_docs = bucket population (the
    redundancy the sample collapsed).

    Scale shape: the minhash aggregate (doc-keyed, partial-agg) + ONE
    bucket-keyed min/count aggregate.  No pair join at all — this is
    strictly cheaper than dedup: O(corpus), never O(pairs).
    """
    keys = lsh_band_keys(df, id_col, text_col, k=k, n_hashes=n_hashes, bands=1)
    return keys.groupBy(F.col("bkey").alias("bucket")).agg(
        F.min(id_col).alias("keeper"),
        F.count("*").alias("n_docs"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mask_bits: int = 6,
    window: int = 16,
) -> DataFrame:
    """Content-defined chunking (the rolling-window storage-dedup
    primitive behind rsync/LBFS/restic): a cut falls AFTER position i
    whenever the hash of the ``window`` chars ending at i is 0 mod
    2^mask_bits — boundaries move WITH the content, so an insertion
    re-chunks only its neighborhood (fixed-size chunking would shift
    every later chunk).  Expected chunk length = 2^mask_bits chars.
    Deliberately the clamp-free textbook form: FastCDC's min/max
    clamps are sequential (each boundary depends on the previous
    cut), which would serialize the per-doc scan for a ~5% dedup gain
    — a stated cut.

    -> (id, chunk_idx, start, chunk_len, chunk_md5), start 1-based
    over the dedup normal form; join chunk_md5 across documents for
    shared-chunk storage stats.

    Scale shape: the whole boundary selection is one per-document
    array expression (the winnowing let-binding shape — zero shuffle,
    no per-char explode); only the final chunk rows explode,
    ~len/2^mask_bits per doc.
    """
    from graph_importer_spark.operators.textstats import normalize_text

    m = 1 << mask_bits
    w = int(window)
    # short-doc guard: for length(t) < window, sequence(w, length(t))
    # is DESCENDING in Spark, hashing partial windows at out-of-range
    # positions — ~1/2^mask_bits of them became spurious cuts past the
    # end of the doc (unsorted ends, negative chunk_len).  Such docs
    # are one single chunk by definition.
    expr = (
        "transform(array(__t), t -> "
        " transform(array("
        f"   CASE WHEN length(t) < {w} THEN array(length(t))"
        "        ELSE array_distinct(concat("
        f"   filter(sequence({w}, length(t)), i -> "
        f"     conv(substring(md5(substr(t, i - {w} + 1, {w})), 1, 8), 16, 10)"
        f"       % {m} = 0),"
        "   array(length(t)))) END), ends -> "
        "  transform(sequence(1, size(ends)), j -> struct("
        "    j - 1 AS chunk_idx,"
        "    CASE WHEN j = 1 THEN 1"
        "         ELSE element_at(ends, j - 1) + 1 END AS start,"
        "    element_at(ends, j)"
        "      - (CASE WHEN j = 1 THEN 0 ELSE element_at(ends, j - 1) END)"
        "      AS chunk_len,"
        "    md5(substr(t,"
        "      CASE WHEN j = 1 THEN 1 ELSE element_at(ends, j - 1) + 1 END,"
        "      element_at(ends, j)"
        "        - (CASE WHEN j = 1 THEN 0"
        "           ELSE element_at(ends, j - 1) END))) AS chunk_md5"
        "  )))[0])[0]"
    )
    d = df.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("__t"),
    ).filter(F.length("__t") >= 1)
    return d.select("id", F.explode(F.expr(expr)).alias("_c")).select(
        "id",
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.start").alias("start"),
        F.col("_c.chunk_len").alias("chunk_len"),
        F.col("_c.chunk_md5").alias("chunk_md5"),
    )


def dedup_savings(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Storage-savings audit of exact deduplication: documents group
    by content fingerprint; for each duplicate-group SIZE, how many
    groups exist, how many documents and bytes they hold, and how
    many bytes exact dedup reclaims (every copy beyond the first).
    The before/after table a dedup rollout is judged on.

    -> (group_size, n_groups, n_docs, bytes_total, bytes_saved)
    — all exact integers (byte counts over the raw text).

    Scale shape: one fingerprint-keyed aggregate (md5 normal form,
    map-side partials) + one size-keyed rollup over the group table
    (bounded by distinct group sizes); no windows.
    """
    g = (
        df.select(
            fingerprint(F.col(text_col)).alias("_fp"),
            F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias(
                "_b"
            ),
        )
        .groupBy("_fp")
        .agg(
            F.count("*").alias("group_size"),
            F.sum("_b").alias("_bytes"),
            F.min("_b").alias("_keep"),
        )
    )
    return (
        g.groupBy("group_size")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("group_size").alias("n_docs"),
            F.sum("_bytes").alias("bytes_total"),
            F.sum(F.col("_bytes") - F.col("_keep")).alias("bytes_saved"),
        )
    )


def pair_pr(found: DataFrame, truth: DataFrame) -> DataFrame:
    """Precision/recall of a candidate PAIR set against a ground-truth
    pair set, order-normalized — the measurement row every
    approximate dedup path (LSH bands, SimHash blocks, IVF buckets)
    owes its recall knobs.  Both inputs are (id1, id2) frames.

    -> one row (n_found, n_truth, n_hit, precision, recall); ratios
    NULL when a side is empty (undefined, not 0).

    Scale shape: two canonicalizing projections + ONE pair-keyed join
    + scalar counts; pair sets are tiny relative to the corpus by
    construction.
    """

    def canon(df):
        a, b = df.columns[0], df.columns[1]
        return df.select(
            F.least(F.col(a), F.col(b)).alias("p"),
            F.greatest(F.col(a), F.col(b)).alias("q"),
        ).distinct()

    f, t = canon(found), canon(truth)
    hit = f.join(t, ["p", "q"], "left_semi")
    nf = f.count()
    nt = t.count()
    nh = hit.count()
    spark = found.sparkSession
    prec = round(nh / nf, 6) if nf else None
    rec = round(nh / nt, 6) if nt else None
    return spark.createDataFrame(
        [(nf, nt, nh, prec, rec)],
        "n_found long, n_truth long, n_hit long, precision double, recall double",
    )


def chunk_share_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mask_bits: int = 6,
    window: int = 16,
    min_shared: int = 2,
    max_df: int | None = 200,
) -> DataFrame:
    """Chunk-level near-duplicate pairs over content-defined chunks
    (the storage-dedup view of similarity: two documents are related
    by how many CDC chunks they share — robust to insertions exactly
    where winnowing/minhash shingles are, but at chunk granularity,
    so a shared QUOTE or boilerplate block surfaces as shared
    chunks): pairs sharing >= ``min_shared`` chunk fingerprints, with
    the containment-style share n_shared / min(chunks_a, chunks_b).

    -> (id1, id2, n_shared, share).

    Scale shape: cdc_chunks is the zero-shuffle boundary pass; the
    pair stage is a fingerprint-keyed equi-join behind the
    first-class ``max_df`` hot-chunk guard (a boilerplate chunk
    shared by everything would otherwise quadratically explode — the
    max_df convention), then an (id1, id2) partial-agg count.
    """
    ch = cdc_chunks(df, id_col, text_col, mask_bits, window).select(
        "id", "chunk_md5"
    )
    if max_df is not None:
        hot = (
            ch.groupBy("chunk_md5")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_df)
            .select("chunk_md5")
        )
        ch = ch.join(F.broadcast(hot), "chunk_md5", "left_anti")
    sizes = ch.groupBy("id").agg(F.count("*").alias("_nc"))
    a = ch.select(F.col("id").alias("id1"), "chunk_md5")
    b = ch.select(F.col("id").alias("id2"), "chunk_md5")
    pairs = (
        a.join(b, "chunk_md5")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("_nc").alias("_na"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("_nc").alias("_nb"))
    return (
        pairs.join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1",
            "id2",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("_na", "_nb"), 6
            ).alias("share"),
        )
    )


def bow_dup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Order-insensitive exact duplicate groups: documents group by
    the md5 of their SORTED token multiset — catches template pages
    and shuffled boilerplate that byte-exact dedup misses while
    staying exact (no similarity threshold; reordered words ARE the
    only tolerated edit).

    -> (id, bow_fp, keeper, is_dup), keeper = min id per group.

    Scale shape: the fingerprint is a zero-shuffle array expression
    (sort_array over the token split); grouping is one
    fingerprint-keyed aggregate, the exact_dup_groups plan.
    """
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    fp = F.md5(F.encode(F.array_join(F.sort_array(toks), " "), "UTF-8"))
    base = df.select(F.col(id_col).alias("id"), fp.alias("bow_fp"))
    groups = base.groupBy("bow_fp").agg(F.min("id").alias("keeper"))
    return base.join(groups, "bow_fp").select(
        "id",
        "bow_fp",
        "keeper",
        (F.col("id") != F.col("keeper")).alias("is_dup"),
    )
