"""Deterministic sampling for training-data pipelines.

`df.sample()` is seed-dependent on partitioning (per-partition RNG
streams), so a repartition silently changes the sample — useless for
reproducible corpus construction at 10^12 rows.  Both operators here
key the decision on the row's own id through the same multiplicative-
congruential hash the generators use (operators/generators.py:35-36):
pure int64 expressions, partition-invariant, SQL-replayable, and
filter-pushdown-friendly (the predicate reaches the parquet scan).

The reference's Bernoulli trials (clique_generator.py:62-66
``random.random() < prob``) are the same idea made reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_importer_spark.operators.generators import _A, _M


def hash_unit(key: Column | str, seed: int = 42) -> Column:
    """Congruential hash of an int64 key onto [0, 1) — the shared
    sampling coin.  ((key % M) * A + seed) % M / M."""
    k = F.col(key) if isinstance(key, str) else key
    return (
        F.pmod(F.pmod(k, F.lit(_M)) * F.lit(_A) + F.lit(seed), F.lit(_M)).cast("double")
        / F.lit(float(_M))
    )


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 42
) -> DataFrame:
    """Keep rows whose hash coin < fraction — a deterministic Bernoulli
    sample at exactly-reproducible membership (same rows at any
    partitioning, any cluster size, any day)."""
    return df.filter(hash_unit(key_col, seed) < fraction)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample boilerplate
    languages, keep all rare ones).  The rate table is a broadcast map
    baked into the predicate as a CASE expression — no join, no
    shuffle; strata missing from ``fractions`` get ``default_fraction``.
    """
    rate = F.lit(default_fraction)
    for value, frac in sorted(fractions.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(frac)).otherwise(rate)
    return df.filter(hash_unit(key_col, seed) < rate)


def string_unit(key: Column | str, seed: int = 42) -> Column:
    """[0, 1) coin from a STRING key: the first 8 hex chars of
    md5(key || '|' || seed) as a uint32 over 2^32.  The string-keyed
    sibling of ``hash_unit`` (which needs an int64): md5 is the repo's
    oracle hash (contract.py replays it in DuckDB), so membership
    decisions keyed on urls / domains / text fingerprints stay
    SQL-replayable and partition-invariant."""
    k = F.col(key) if isinstance(key, str) else key
    h8 = F.substring(
        F.md5(F.encode(F.concat(k, F.lit(f"|{seed}")), "UTF-8")), 1, 8
    )
    return F.conv(h8, 16, 10).cast("bigint").cast("double") / F.lit(float(2**32))


def group_split(
    df: DataFrame,
    group_col: str,
    splits: list[tuple[str, float]],
    seed: int = 42,
) -> DataFrame:
    """Leakage-free train/holdout assignment: every row gets a
    ``split`` label that is a pure function of its GROUP key, so all
    rows of a group (all pages of a domain, all orders of a customer,
    all chunks of a document) land in the SAME split — grouped
    splitting is how eval leakage through near-duplicate group members
    is prevented (the reason scikit-learn ships GroupShuffleSplit).

    ``splits`` is an ordered list of (name, fraction); fractions must
    sum to 1 (within 1e-9).  Assignment: the group's ``string_unit``
    coin falls into the half-open cumulative interval of each split,
    with the LAST split catching the remainder (no row is ever
    unassigned to float rounding).

    Scale shape: zero shuffle and zero join — the label is a scalar
    expression on the group column, usable as a partition column on
    write.  Membership is partition-invariant and SQL-replayable.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(frac for _, frac in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    coin = string_unit(group_col, seed)
    # build the CASE outside-in so the SMALLEST boundary is tested
    # first (when-chains evaluate outermost-first)
    expr = F.lit(splits[-1][0])
    bounds = []
    hi = 0.0
    for name, frac in splits[:-1]:
        hi += frac
        bounds.append((name, hi))
    for name, hi in reversed(bounds):
        expr = F.when(coin < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def temperature_mixture_rates(
    df: DataFrame, domain_col: str, alpha: float = 0.5, target_frac: float = 0.5
) -> DataFrame:
    """Temperature-scaled mixture weights over data domains/sources —
    the standard multinomial mixing of multilingual/multi-source
    pretraining (mT5 / XLM-R style: sample domain d with probability
    proportional to n_d^alpha, alpha < 1 upweights rare domains).

    Returns one row per domain: ``(domain, n_docs, rate)`` where rate is
    the deterministic per-doc keep probability that makes the EXPECTED
    output (a) ``target_frac`` of the corpus overall and (b) distributed
    across domains proportionally to n_d^alpha.  Rates cap at 1.0 (rare
    domains can't be upsampled by a filter; the residual mass stays with
    the capped domain rather than being re-spread — one-pass, replayable
    semantics, documented).

    Scale shape (100 TB): ONE count aggregate over the corpus (map-side
    partials) reduced to <= n_domains rows; the weight normalization is
    a left-to-right fold over the domain-sorted weight array on that
    tiny result (bit-reproducible, engine-portable); downstream use is a
    broadcast join.  alpha=0.5 uses sqrt (IEEE-754 correctly-rounded in
    every engine — bit-identical replay); other alphas use pow, whose
    libm rounding may differ across engines by 1 ulp (fine in practice,
    excluded from the bit-exact oracle gate).
    """
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs")
    )
    w = (
        F.sqrt(F.col("n_docs").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    )
    weighted = counts.select("domain", "n_docs", w.alias("w"))
    totals = weighted.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("domain", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("w_total"),
    )
    # rate = min(1, ((target_frac * w) * N) / (W * n_d)) — operation
    # order pinned so the SQL replay is bit-identical.
    return weighted.crossJoin(F.broadcast(totals)).select(
        "domain",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.lit(target_frac) * F.col("w") * F.col("n_total").cast("double"))
            / (F.col("w_total") * F.col("n_docs").cast("double")),
        ).alias("rate"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    seed: int = 17,
) -> DataFrame:
    """Deterministic mixture sample: broadcast the per-domain rate table
    and keep rows whose congruential coin clears their domain's rate.
    Partition-invariant membership (same rows at any cluster size)."""
    rates = temperature_mixture_rates(df, domain_col, alpha, target_frac)
    return df.join(
        F.broadcast(rates.select(F.col("domain").alias(domain_col), "rate")),
        domain_col,
    ).filter(hash_unit(key_col, seed) < F.col("rate"))


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
    seed: int = 42,
    score_decimals: int | None = None,
) -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, public): each row draws u = hash coin, scores
    u^(1/w), and the k largest scores per group are the sample —
    inclusion probability proportional to weight, exactly k rows kept.

    Deterministic end to end: u comes from the congruential coin on
    ``key_col`` (partition-invariant), the score is one IEEE pow, and
    ties (impossible up to double precision unless keys collide) break
    on key — so the sample is reproducible at any cluster size and
    replayable in SQL.  Weights must be > 0 (the ES scheme's domain):
    w=0 degenerates to never-sampled, negative w inverts the odds —
    filter or clamp upstream.

    Scale shape: one window sort per group — the per-group row count is
    the cost driver, exactly like any top-k.  The GLOBAL form (no
    ``group_cols``) routes through the two-phase ``skew.salted_topk``
    (partial top-k per salt bucket, then a <= buckets*k candidate
    merge) — no single task ever sorts the whole corpus; the final
    rank is a window over the <= k survivors only.

    ``score_decimals`` rounds the score BEFORE ranking — the
    cross-engine determinism hatch: ``pow`` is not correctly rounded by
    IEEE-754 (Java Math.pow and C pow may differ in the last ulp), so
    an oracle replaying the ranking in another engine could flip a
    near-tie.  Rounding to 6 collapses sub-ulp differences; genuine
    round-to-same-value ties then break on key in BOTH engines.  None
    (the default) ranks on the raw double.
    """
    from pyspark.sql import Window

    score = F.pow(hash_unit(key_col, seed), F.lit(1.0) / F.col(weight_col))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    scored = df.withColumn("es_score", score)
    part = group_cols or []
    if part:
        w = Window.partitionBy(*part).orderBy(
            F.desc("es_score"), F.asc(key_col)
        )
        return (
            scored.withColumn("es_rank", F.row_number().over(w))
            .filter(F.col("es_rank") <= k)
        )
    # global form: an unpartitioned window would funnel the whole
    # corpus through one task; salted_topk keeps every sort bounded
    # (per-bucket partial top-k, then <= buckets*k candidates)
    from graph_importer_spark.operators.skew import salted_topk

    payload = [c for c in scored.columns if c not in (key_col, "es_score")]
    cand = salted_topk(
        scored.withColumn("_g", F.lit(0)),
        key="_g",
        order_col="es_score",
        tiebreak=key_col,
        k=k,
        payload=payload,
    )
    # rank the <= k survivors; partitioning by the constant keeps the
    # window partition-defined (plan-assertable) and k-bounded
    w = Window.partitionBy("_g").orderBy(F.desc("es_score"), F.asc(key_col))
    return (
        cand.withColumn("es_rank", F.row_number().over(w))
        .select(*df.columns, "es_score", "es_rank")
    )


def domain_quota_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    quota: int,
    seed: int = 42,
) -> DataFrame:
    """Per-domain quota cap: keep at most ``quota`` rows per domain,
    chosen by the deterministic hash coin — the C4/RefinedWeb-style
    guard against any single site dominating the training mix (the
    mixture-rate siblings above RESAMPLE proportions; this HARD-CAPS
    membership).

    Which rows survive is a pure function of (id, seed): stable across
    runs, partitionings, and cluster sizes, and replayable in SQL.
    Domains are Zipf-hot at web scale, so selection routes through the
    two-phase ``skew.salted_topk`` (per-bucket partial top-k, then a
    <= buckets x quota candidate merge) — no per-domain window sort
    ever sees a hot domain's full row set.  Rows keep all original
    columns plus the ``_coin`` ordering key.
    """
    from graph_importer_spark.operators.skew import salted_topk

    payload = [c for c in df.columns if c not in (domain_col, id_col)]
    coined = df.withColumn(
        "_coin", string_unit(F.col(id_col).cast("string"), seed)
    )
    return salted_topk(
        coined,
        key=domain_col,
        order_col="_coin",
        tiebreak=id_col,
        k=quota,
        payload=payload,
    )


def curriculum_order(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    phases: int = 3,
) -> DataFrame:
    """Curriculum data ordering: rank documents within each group
    (domain, language, source) by quality score and cut the ranking
    into ``phases`` equal-count training phases — phase 0 holds the
    best documents, later phases the tail.  Curriculum/annealing
    schedules (highest-quality data last or first) are standard in
    LLM pretraining; the ordering operator IS the pipeline stage that
    emits them.

    -> (group, id, score, rank, phase) with ``rank`` 1-based by
    (score DESC, id ASC) — the id tiebreak makes the ordering total,
    hence deterministic and oracle-replayable — and
    ``phase = floor((rank-1) * phases / group_count)`` in
    [0, phases).

    Scale shape: exact in-group ranking is a per-key sort (window).
    That is safe here BY CONTRACT: curriculum groups are bounded
    upstream — ``domain_quota_sample`` caps per-domain rows before
    ordering, exactly the composition this operator expects.  For an
    unbounded key, rank is the wrong primitive (use
    ``temperature_mixture_sample`` for proportions or
    ``skew.salted_topk`` for a bounded head); the window here is a
    deliberate, documented exception to the repo's no-window rule,
    not an oversight.
    """
    from pyspark.sql import Window

    if phases <= 0:
        raise ValueError("phases must be positive")
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy(group_col)
    return df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(score_col),
        F.row_number().over(w).alias("rank"),
    ).withColumn(
        "phase",
        F.floor(
            (F.col("rank") - 1) * phases / F.count("*").over(wc)
        ).cast("int"),
    )


def epoch_repeat(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights: DataFrame,
    weight_col: str = "epochs",
    seed: int = 42,
) -> DataFrame:
    """Dataset repetition by per-group epoch weights — the mixing
    primitive of multi-source LLM pretraining ("Wikipedia 3.4 epochs,
    CommonCrawl 0.44" in GPT-3's Table 2.2): every row is emitted
    floor(w) times plus one more with probability frac(w), where the
    extra-copy coin is the deterministic :func:`hash_unit` of the row
    id — so expected copies per group = w exactly, membership is
    partition-invariant, and the oracle replays every copy.

    -> input columns + ``copy_no`` (1-based).  Groups missing from
    ``weights`` are dropped (weight 0); w < 1 is plain deterministic
    downsampling.

    Scale shape: ``weights`` is a tiny broadcast dim (one row per
    corpus source); the fan-out is a codegen
    ``explode(sequence(1, n))`` — no shuffle, no state.  At 10^12
    rows the writer inherits the input partitioning; repetition never
    concentrates a partition because copies stay with their source
    row.
    """
    w = F.col(weight_col)
    base = F.floor(w).cast("int")
    extra = (hash_unit(F.col(id_col), seed) < (w - F.floor(w))).cast("int")
    n = (base + extra).alias("_copies")
    out_cols = df.columns
    j = df.join(F.broadcast(weights), group_col, "inner").select(*out_cols, n)
    return (
        j.filter(F.col("_copies") >= 1)
        .withColumn(
            "copy_no", F.explode(F.sequence(F.lit(1), F.col("_copies")))
        )
        .drop("_copies")
    )


def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    k: int = 3,
) -> DataFrame:
    """Train/eval leakage audit: exact-duplicate texts whose copies
    landed in DIFFERENT splits.  The final gate after splitting — a
    grouped split (group_split) prevents leakage through the group key,
    but byte-identical content replicated ACROSS groups (mirrored
    pages, syndicated articles) still crosses the boundary; this finds
    every such fingerprint so the caller can drop or re-home it
    (Brown et al. 2020 §4 report exactly this class of train-test
    contamination).

    -> (fingerprint, n_splits >= 2, splits, n_docs, sample_ids):
    ``splits`` is the sorted distinct split list (comma-joined),
    ``sample_ids`` the first ``k`` offending ids.

    Scale shape: ONE fingerprint-keyed aggregate, one shuffle (the
    distinct counts are sizes of the collect_set states — NOT
    count_distinct, which would expand into a second shuffle; the
    states are bounded by the split universe (tiny) and the dup-group
    size, exactly the quantity being reported).  Zero joins.
    """
    from graph_importer_spark.operators.textstats import fingerprint

    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(split_col).alias("_sp"),
            F.col(id_col).cast("string").alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.array_sort(F.collect_set("_sp")).alias("_sps"),
            F.array_sort(F.collect_set("_id")).alias("_ids"),
        )
        .select(
            "fingerprint",
            F.size("_sps").cast("long").alias("n_splits"),
            F.array_join("_sps", ",").alias("splits"),
            F.size("_ids").cast("long").alias("n_docs"),
            F.array_join(F.slice("_ids", 1, k), ",").alias("sample_ids"),
        )
        .filter(F.col("n_splits") >= 2)
    )


def stratified_kfold(
    df,
    key_col: str,
    stratum_col: str,
    k: int = 5,
    seed: int = 42,
):
    """Deterministic stratified k-fold assignment: fold =
    u32(md5(stratum|key|seed)) % k — a pure function of the row's
    (stratum, key), so folds are partition-invariant, regenerable,
    and approximately balanced WITHIN each stratum (the md5 coin is
    uniform per stratum by construction; contrast plain key-mod
    folds, which correlate with any key-aligned structure).

    -> the input plus a ``fold`` int column; balance is checked on the
    per-(stratum, fold) counts.

    Scale shape: zero shuffle — the fold label is a scalar expression
    and works as a write partition column (the group_split
    argument).
    """
    from pyspark.sql import functions as F

    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.encode(
                        F.concat_ws(
                            "|",
                            F.col(stratum_col).cast("string"),
                            F.col(key_col).cast("string"),
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
        % k
    ).cast("int")
    return df.withColumn("fold", fold)
