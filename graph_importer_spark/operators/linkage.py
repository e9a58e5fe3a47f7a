"""Fellegi-Sunter probabilistic record-linkage scoring.

The decision layer on top of blocking (operators/blocking.py makes the
candidate pairs; this scores them): for each comparison field f with
match probability m_f = P(agree | same entity) and u_f =
P(agree | different entities), a pair's log-likelihood-ratio weight is

    w = sum_f  [ agree_f ? ln(m_f / u_f) : ln((1-m_f) / (1-u_f)) ]

(Fellegi & Sunter, JASA 1969 — the model behind Splink/RecordLinkage).
Pairs with w >= upper are matches, w <= lower non-matches, in between
possible matches for clerical review.

Scale shape: the score is a pure codegen expression over the pair
table's own columns — zero shuffle, zero UDF, linear in |pairs| (which
blocking already bounded).  The (m, u) table is a constant baked into
the plan, the published EM-fitting step being a handful of scalar
aggregates over a sample when parameters are unknown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fs_score(
    pairs: DataFrame,
    weights: dict[str, tuple[float, float]],
    lower: float = 0.0,
    upper: float = 3.0,
    decimals: int = 6,
) -> DataFrame:
    """pairs carrying one BOOLEAN agreement column per field named in
    ``weights`` ({field: (m, u)}) -> pairs + ``fs_weight`` +
    ``fs_decision`` ('match' / 'possible' / 'non_match').

    m and u must lie strictly inside (0, 1) — a field that always or
    never agrees carries no information and makes the log blow up.
    """
    total: Column = F.lit(0.0)
    for field, (m, u) in sorted(weights.items()):
        if not (0.0 < m < 1.0 and 0.0 < u < 1.0):
            raise ValueError(f"m/u for {field!r} must be in (0, 1)")
        import math

        total = total + F.when(
            F.col(field), F.lit(math.log(m / u))
        ).otherwise(F.lit(math.log((1.0 - m) / (1.0 - u))))
    w = F.round(total, decimals)
    decision = (
        F.when(w >= upper, F.lit("match"))
        .when(w <= lower, F.lit("non_match"))
        .otherwise(F.lit("possible"))
    )
    return pairs.withColumn("fs_weight", w).withColumn("fs_decision", decision)


def golden_record(
    df,
    cluster_col: str,
    rules: dict[str, str],
    ts_col: str | None = None,
) -> "DataFrame":
    """Survivorship: collapse each duplicate CLUSTER (the output of
    dedup.dup_clusters / ER matching) into one golden record — the
    merge step that finishes entity resolution.

    ``rules`` maps column -> one of:
      * ``latest``  — value of the member with the greatest ``ts_col``
        among non-null values (requires ts_col; ties -> greater value);
      * ``mode``    — most frequent non-null value, compared as its
        string cast (ties -> the greater string);
      * ``min`` / ``max`` — plain extrema.

    -> one row per cluster: (cluster, n_members, <ruled columns>).

    Scale shape: latest/min/max are algebraic aggregates in ONE
    cluster-keyed groupBy (map-side partials — a pathological
    million-member cluster never collects its rows anywhere).  The
    mode columns share ONE extra unpivot -> (cluster, col, value)
    count -> max_by pass (two bounded shuffles TOTAL regardless of how
    many columns use mode), pivoted back by
    conditional aggregation, broadcast-joined onto the base (one row
    per cluster on both sides).
    """
    from pyspark.sql import functions as F

    aggs = [F.count("*").alias("n_members")]
    mode_cols = [c for c, r in rules.items() if r == "mode"]
    for c, r in rules.items():
        if r == "latest":
            if ts_col is None:
                raise ValueError("rule 'latest' requires ts_col")
            aggs.append(
                F.max_by(
                    c,
                    F.when(
                        F.col(c).isNotNull(),
                        F.struct(F.col(ts_col), F.col(c)),
                    ),
                ).alias(c)
            )
        elif r == "min":
            aggs.append(F.min(c).alias(c))
        elif r == "max":
            aggs.append(F.max(c).alias(c))
        elif r == "mode":
            pass  # handled in the shared unpivot below
        else:
            raise ValueError(f"unknown rule {r!r} for column {c!r}")
    base = df.groupBy(cluster_col).agg(*aggs)
    if not mode_cols:
        return base
    pairs = df.select(
        F.col(cluster_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in mode_cols
                ]
            )
        ).alias("p"),
    ).select(cluster_col, "p.col", "p.value").filter(F.col("value").isNotNull())
    counted = pairs.groupBy(cluster_col, "col", "value").agg(
        F.count("*").alias("cnt")
    )
    tops = counted.groupBy(cluster_col, "col").agg(
        F.max_by("value", F.struct("cnt", "value")).alias("top")
    )
    modes = tops.groupBy(cluster_col).agg(
        *[
            F.max(F.when(F.col("col") == c, F.col("top"))).alias(c)
            for c in mode_cols
        ]
    )
    return base.join(modes, cluster_col, "left")


def fs_em_step(
    pairs: DataFrame,
    agree_cols: list[str],
    m: dict[str, float],
    u: dict[str, float],
    p: float = 0.1,
    decimals: int = 6,
) -> DataFrame:
    """One EM iteration of Fellegi-Sunter parameter estimation
    (Winkler's unsupervised training of the m/u probabilities that
    ``fs_score`` consumes): E-step computes each comparison pattern's
    match posterior g under the current (m, u, p); M-step re-estimates
    every field's m/u and the match prior from the g-weighted counts.

    -> one row per field (field, m_new, u_new) plus the ('__prior__',
    p_new, p_new) row.

    Determinism: posteriors are rounded to 9dp DECIMAL before the
    weighted sums, so the aggregates are order-exact and the oracle
    replays them.

    Scale shape: the corpus-sized work is ONE aggregate collapsing
    pairs to their <= 2^k agreement patterns (k = len(agree_cols), a
    plan constant); the E and M steps run on that pattern summary —
    iterating EM to convergence costs one cheap job per round, never a
    second pass over the pairs.
    """
    if not agree_cols:
        raise ValueError("need at least one agreement column")
    pat = pairs.groupBy(
        *[F.col(c).cast("boolean").alias(c) for c in agree_cols]
    ).agg(F.count("*").alias("_n"))
    wm = F.lit(float(p))
    wu = F.lit(1.0 - float(p))
    for c in agree_cols:
        mc, uc = float(m[c]), float(u[c])
        wm = wm * F.when(F.col(c), F.lit(mc)).otherwise(F.lit(1.0 - mc))
        wu = wu * F.when(F.col(c), F.lit(uc)).otherwise(F.lit(1.0 - uc))
    g = F.round(wm / (wm + wu), 9).cast("decimal(28,9)")
    pat = pat.withColumn("_g", g)
    tot = pat.agg(
        F.sum(F.col("_g") * F.col("_n")).alias("_sg"),
        F.sum((F.lit(1).cast("decimal(28,9)") - F.col("_g")) * F.col("_n")).alias(
            "_su"
        ),
        F.sum("_n").alias("_nn"),
    )
    rows = None
    for c in agree_cols:
        num = pat.agg(
            F.sum(
                F.when(F.col(c), F.col("_g") * F.col("_n")).otherwise(
                    F.lit(0).cast("decimal(38,9)")
                )
            ).alias("_am"),
            F.sum(
                F.when(
                    F.col(c),
                    (F.lit(1).cast("decimal(28,9)") - F.col("_g")) * F.col("_n"),
                ).otherwise(F.lit(0).cast("decimal(38,9)"))
            ).alias("_au"),
        )
        r = num.crossJoin(F.broadcast(tot)).select(
            F.lit(c).alias("field"),
            F.round(
                F.col("_am").cast("double") / F.col("_sg").cast("double"),
                decimals,
            ).alias("m_new"),
            F.round(
                F.col("_au").cast("double") / F.col("_su").cast("double"),
                decimals,
            ).alias("u_new"),
        )
        rows = r if rows is None else rows.unionByName(r)
    prior = tot.select(
        F.lit("__prior__").alias("field"),
        F.round(
            F.col("_sg").cast("double") / F.col("_nn").cast("double"), decimals
        ).alias("m_new"),
        F.round(
            F.col("_sg").cast("double") / F.col("_nn").cast("double"), decimals
        ).alias("u_new"),
    )
    return rows.unionByName(prior)
