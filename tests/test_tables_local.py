"""Local-backend GraphCatalog commit protocol: appends become visible
only at the atomic meta swap, so a crashed append can never duplicate
rows on replay (the property the streaming layer's exactly-once claim
rests on); reads take the schema the meta committed, and an append must
match it."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graph_importer_spark.tables import GraphCatalog


def test_append_visible_only_after_meta_commit(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path / "wh"))
    base = spark.range(10).select(F.col("id"))
    cat.create_or_replace("t", base, tag="init")
    cat.append("t", spark.range(10, 15).select(F.col("id")), tag="b1")
    assert cat.read("t").count() == 15
    assert cat.has_tag("t", "b1")
    assert sum(n for _, n in cat.file_row_counts("t")) == 15

    # simulate the crash window: data files land on disk (renamed into
    # an append-* dir) but the meta swap never happened
    orphan = os.path.join(str(tmp_path / "wh"), "t", "append-deadbeef")
    spark.range(100, 200).select(F.col("id")).write.parquet(orphan)
    assert cat.read("t").count() == 15  # orphan invisible
    assert sum(n for _, n in cat.file_row_counts("t")) == 15

    # the replayed batch appends fresh and commits exactly once
    cat.append("t", spark.range(15, 20).select(F.col("id")), tag="b2")
    assert cat.read("t").count() == 20
    got = sorted(r["id"] for r in cat.read("t").collect())
    assert got == list(range(20))


def test_append_snapshots_accumulate_in_order(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path / "wh2"))
    cat.create_or_replace("t", spark.range(3), tag="s0")
    cat.append("t", spark.range(3), tag="s1")
    cat.append("t", spark.range(3))
    snaps = cat.snapshots("t")
    assert [s["op"] for s in snaps] == ["create_or_replace", "append", "append"]
    assert [s["tag"] for s in snaps] == ["s0", "s1", None]
    assert cat.read("t").count() == 9


def _frame(spark):
    return spark.range(20).select(
        "id",
        (F.col("id") * 2).cast("int").alias("x"),
        F.array(F.lit("a")).alias("arr"),
        F.struct(F.lit(1).alias("a"), F.col("id").alias("b")).alias("st"),
        F.current_timestamp().alias("ts"),
    )


_FRAME_DDL = "id bigint, x int, arr array<string>, st struct<a: int, b: bigint>, ts timestamp"


def _plain(cat, spark):
    cat.create_or_replace("t", _frame(spark))


def _bucketed(cat, spark):
    cat.create_or_replace("t", _frame(spark), bucket_by=(4, "id"))


def _appended(cat, spark):
    cat.create_or_replace("t", _frame(spark))
    cat.append("t", _frame(spark))


def _shard_rows(spark, lo, hi):
    return spark.range(lo, hi).select(F.lit("007").alias("shard"), "id")


def _partitioned(cat, spark):
    # Spark infers a partition value's type from the path: "007" would
    # read back as the int 7; the partition column reads back last
    cat.create_or_replace("t", _shard_rows(spark, 0, 3), partition_by=["shard"])


def _partitioned_appended(cat, spark):
    # the append is written in the table's layout, so both dirs read
    # as one partitioned table
    _partitioned(cat, spark)
    cat.append("t", _shard_rows(spark, 3, 6))


@pytest.mark.parametrize(
    "make, ddl, shard, n_rows",
    [
        (_plain, _FRAME_DDL, None, 20),
        (_bucketed, _FRAME_DDL, None, 20),
        (_appended, _FRAME_DDL, None, 40),
        (_partitioned, "id bigint, shard string", "007", 3),
        (_partitioned_appended, "id bigint, shard string", "007", 6),
    ],
    ids=["plain", "bucket_by", "appended", "partition_by", "partition_by_appended"],
)
def test_read_uses_the_committed_schema_without_a_job(spark, tmp_path, make, ddl, shard, n_rows):
    """A read takes its schema from the table's meta: it launches no
    Spark job, and returns what a parquet scan infers (every field
    nullable, partition columns last) except that a partition value
    keeps its committed type.  The per-file lineage counts the same
    rows, partition dirs included."""
    cat = GraphCatalog(spark, str(tmp_path / "wh"))
    make(cat, spark)
    sc = spark.sparkContext
    group = f"read-{tmp_path.name}"
    sc.setJobGroup(group, "catalog read")
    try:
        df = cat.read("t")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert df.schema == StructType.fromDDL(ddl)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    rows = df.collect()
    assert len(rows) == n_rows
    counts = cat.file_row_counts("t")
    assert sum(n for _, n in counts) == n_rows
    if shard is not None:
        assert sorted(r["id"] for r in rows) == list(range(n_rows))
        assert {r["shard"] for r in rows} == {shard}
        assert all(f"shard={shard}" in name for name, _ in counts)


def test_append_rejects_a_schema_mismatch_before_writing(spark, tmp_path):
    cat = GraphCatalog(spark, str(tmp_path / "wh"))
    cat.create_or_replace("t", spark.range(5), tag="init")
    table_dir = os.path.join(str(tmp_path / "wh"), "t")
    listing = sorted(os.listdir(table_dir))
    snaps = cat.snapshots("t")
    with pytest.raises(ValueError, match="columns"):
        cat.append("t", spark.range(5).select(F.col("id").cast("string").alias("id")))
    assert sorted(os.listdir(table_dir)) == listing
    assert cat.snapshots("t") == snaps
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(5))
    # nullability aside, a matching frame appends
    cat.append("t", spark.range(5, 7).select(F.when(F.col("id") > 0, F.col("id")).alias("id")))
    assert cat.read("t").count() == 7


def test_concurrent_appends_keep_every_commit(spark, tmp_path):
    """Two writers (as two streams' foreachBatch threads are) append to
    one table that does not exist yet: every append commits, none
    overwrites another's meta or replaces the table another created."""
    cat = GraphCatalog(spark, str(tmp_path / "wh"))
    n, rows = 6, 3
    errors = []

    def writer(w):
        try:
            for i in range(n):
                lo = (w * n + i) * rows
                cat.append("t", spark.range(lo, lo + rows), tag=f"w{w}-{i}")
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    total = 2 * n * rows
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(total))
    assert all(cat.has_tag("t", f"w{w}-{i}") for w in range(2) for i in range(n))
    assert sum(k for _, k in cat.file_row_counts("t")) == total
