"""Deterministic dense id assignment (string key -> contiguous int64).

The 10^12-scale replacement for xxhash64 string ids in
connected-components (see SCALE.md 'Collision budget'): two-pass, no
collisions, no global sort, no driver data movement beyond one
O(#partitions) collect.

Pass 1: distinct keys, hash-partitioned by key; count per partition.
Pass 2: per-partition rank (window ordered by key WITHIN the hash
partition — no global exchange) + broadcast partition offsets.

ids are dense in [0, n), deterministic for a fixed partition count
(hash partitioning and within-partition order are both pure functions
of the key), and independent of the input's physical layout.

The reference never needs this (ArangoDB hands out _keys); it is the
Spark-native analogue of its key-synthesis step at a scale where
'str(vid)' stops working (vertices_generator.py:149-160).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame, col: str, num_partitions: int | None = None
) -> DataFrame:
    """-> (``col``, id long) with ids dense in [0, n)."""
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = df.select(col).distinct().repartition(p, F.col(col))
    keyed = keys.withColumn("_pid", F.spark_partition_id())
    counts = keyed.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_n"]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy(col)
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .select(col, (F.col("_off") + F.col("_rn") - 1).alias("id"))
    )


def sorted_ranks(
    df: DataFrame, col: str, num_partitions: int | None = None
) -> DataFrame:
    """-> (``col``, rank long): the exact GLOBAL lexicographic rank
    (``row_number() OVER (ORDER BY col) - 1``) without an unpartitioned
    window.

    Same two-pass shape as ``dense_ids`` but RANGE-partitioned: range
    partition i holds keys strictly below partition i+1's, so
    global rank = (rows in earlier partitions) + (rank within this
    partition).  The per-partition window sorts ~n/p keys; the only
    driver traffic is the O(p) offset collect.  The result is a pure
    function of the key set — range boundary placement (sampled by
    repartitionByRange) moves rows between partitions but cannot
    change any key's global rank — so SQL oracles replay it with a
    plain ORDER BY row_number.  That holds only within ONE partitioning:
    the boundaries are re-sampled by every job that runs the plan, so
    the partitioned keys are materialized once and both the offset
    collect and the rank window read that copy.

    Use this (not dense_ids) when the CONSUMER depends on rank order —
    e.g. candidate lookup tables indexed by sorted-vocabulary position;
    dense_ids is cheaper when any stable dense id will do.
    """
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = df.select(col).distinct().repartitionByRange(p, F.col(col))
    keyed = keys.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    counts = keyed.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_n"]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy(col)
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .select(col, (F.col("_off") + F.col("_rn") - 1).alias("rank"))
    )


def connected_components_dense(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    on_iteration=None,
) -> DataFrame:
    """connected_components_str without hash collisions: dictionary-map
    string endpoints to dense ids, run CC on longs, map back.
    Returns (name, canonical) like connected_components_str."""
    from graph_importer_spark.cc import connected_components

    nodes = (
        edges.select(F.col(src).alias("name"))
        .unionByName(edges.select(F.col(dst).alias("name")))
        .distinct()
    )
    dictionary = dense_ids(nodes, "name").localCheckpoint(eager=True)
    s = dictionary.select(F.col("name").alias(src), F.col("id").alias("src_id"))
    d = dictionary.select(F.col("name").alias(dst), F.col("id").alias("dst_id"))
    e = (
        edges.join(s, src)
        .join(d, dst)
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    )
    labels = connected_components(e, max_iter=max_iter, on_iteration=on_iteration)
    named = labels.join(dictionary, labels.id == dictionary.id).select(
        "name", "component"
    )
    canon = (
        named.groupBy("component").agg(F.min("name").alias("canonical"))
    )
    return named.join(canon, "component").select("name", "canonical")
