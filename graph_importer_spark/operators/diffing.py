"""Dataset diff: keyed comparison of two corpus snapshots.

Iterating on a 100 TB training corpus means re-running the pipeline
and asking "what actually changed?" — rows added, rows removed, rows
whose payload changed, and WHICH columns changed.  The reference's
closest analogue is its resume probe (it checks collection existence
and counts before re-importing, /root/reference/general.py:88-109);
this operator is the row-level version of that question.

Scale shape: one full-outer sort-merge join on the key columns — the
canonical two-big-sides shape.  Both inputs shuffle once on the key;
if the snapshots are written bucketed by the same key (tables.py
supports bucketed writes) the exchange is elided entirely.  The
per-column comparison is a null-safe JVM expression (``<=>``), no
Python, no hashing — so the "changed columns" output names real
columns and the plan stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Full-outer diff of two snapshots on ``key_cols``.

    Returns one row per key present in either side with:

    * the key columns,
    * ``status`` — ``added`` (key only in ``new``), ``removed`` (only
      in ``old``), ``changed`` (both sides, any compared column
      differs, null-safe), ``unchanged``,
    * ``changed_cols`` — sorted array of the compared column names
      whose values differ (empty unless ``changed``).

    ``compare_cols`` defaults to every non-key column present in BOTH
    schemas (columns only one side has are ignored — schema evolution
    is reported by the caller, not conflated with row churn).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]

    o = old.select(
        *[F.col(c).alias(c) for c in key_cols],
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(c).alias(c) for c in key_cols],
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_new_{c}") for c in compare_cols],
    )
    j = o.join(n, on=key_cols, how="full_outer")

    empty = F.array().cast("array<string>")
    if compare_cols:
        flags = F.array(
            *[
                F.when(
                    ~F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        )
        both = F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull()
        diffs = F.when(
            both, F.array_sort(F.filter(flags, lambda x: x.isNotNull()))
        ).otherwise(empty)
    else:
        diffs = empty
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.size(F.col("changed_cols")) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("changed_cols", diffs)
        .withColumn("status", status)
        .select(*key_cols, "status", "changed_cols")
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """Counts per status — the one-line answer to "what changed?".
    A hash aggregate over 4 keys; map-side partials make it one
    near-free pass over the diff."""
    return diff.groupBy("status").agg(F.count("*").alias("n"))
