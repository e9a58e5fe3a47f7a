"""Round-4 session-10 operators: KG constraint audit, modularity,
meta-blocking, exact cosine similarity join, compaction planning,
split-leakage audit.  Semantic tests (known answers, determinism,
completeness vs brute force) — the KG and graph operators
also have oracle rows in the contract sweep."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.analytics import modularity
from graph_importer_spark.operators.blocking import (
    meta_blocking_pairs,
    token_blocks,
)
from graph_importer_spark.operators.layout import compaction_plan
from graph_importer_spark.operators.sampling import group_split, split_leakage
from graph_importer_spark.operators.similarity import cosine_prefix_pairs
from graph_importer_spark.triples import constraint_audit


# ---------- constraint_audit ----------


def _triples(spark):
    rows = [
        ("e1", "born_in", "city:1"),
        ("e1", "born_in", "city:2"),  # functional violation (2 objs)
        ("e2", "born_in", "city:1"),
        ("e2", "born_in", "city:1"),  # duplicate assertion, NOT a violation
        ("e3", "works_at", "org:1"),
        ("e3", "works_at", "org:2"),  # works_at not functional -> fine
        ("e4", "born_in", "org:1"),   # range violation: org typed Org
        ("e5", "born_in", "city:9"),  # range violation: untyped obj
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    ty = spark.createDataFrame(
        [("city:1", "City"), ("city:2", "City"), ("org:1", "Org"), ("org:2", "Org")],
        "entity string, type string",
    )
    return t, ty


def test_constraint_audit_functional(spark):
    t, ty = _triples(spark)
    out = constraint_audit(t, functional=["born_in"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.subj, r.pred, r.violation, r.n_bad) == ("e1", "born_in", "functional", 2)
    assert r.sample == "city:1,city:2"


def test_constraint_audit_range(spark):
    t, ty = _triples(spark)
    out = constraint_audit(
        t, functional=["born_in"], ranges={"born_in": "City"}, types=ty
    )
    rows = {(r.subj, r.violation): r for r in out.collect()}
    assert ("e1", "functional") in rows
    assert rows[("e4", "range")].sample == "org:1"
    assert rows[("e5", "range")].sample == "city:9"  # untyped counts
    assert ("e2", "range") not in rows


def test_constraint_audit_requires_types(spark):
    t, _ = _triples(spark)
    with pytest.raises(ValueError):
        constraint_audit(t, functional=[], ranges={"born_in": "City"}, types=None)


# ---------- modularity ----------


def test_modularity_two_cliques(spark):
    # two triangles joined by one bridge: the textbook 2-community graph
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    assign = spark.createDataFrame(
        [(i, i <= 3 and "a" or "b") for i in range(1, 7)], "id long, community string"
    )
    rows = {r.community: r for r in modularity(edges, assign).collect()}
    # m=7; intra a=3, intra b=3; deg a = 2+2+3=7, deg b=7
    assert rows["a"].intra_edges == 3 and rows["b"].intra_edges == 3
    assert rows["a"].deg_sum == 7 and rows["b"].deg_sum == 7
    q = rows["a"].q_contrib + rows["b"].q_contrib
    expect = 2 * (3 / 7 - (7 / 14) ** 2)
    assert abs(q - expect) < 1e-6


def test_modularity_single_community_is_zero(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assign = spark.createDataFrame([(1, "x"), (2, "x"), (3, "x")], "id long, community string")
    rows = modularity(edges, assign).collect()
    assert len(rows) == 1
    # all edges intra, deg_c = 2m -> Q = 1 - 1 = 0
    assert abs(rows[0].q_contrib) < 1e-9


# ---------- meta-blocking ----------


def test_token_blocks_purges_big_blocks(spark):
    rows = [(i, f"common tok{i}") for i in range(10)]
    d = spark.createDataFrame(rows, "id long, name string")
    b = token_blocks(d, "id", "name", max_block=5)
    toks = {r.token for r in b.collect()}
    assert "common" not in toks  # df=10 > 5 purged
    assert "tok3" in toks


def test_meta_blocking_prunes_single_token_collisions(spark):
    rows = [
        (1, "acme corp boston"),
        (2, "acme corp boston"),   # shares 3 blocks with 1
        (3, "acme systems berlin"),  # shares 1 block with 1/2
        (4, "zeta systems berlin"),  # shares 2 blocks with 3
    ]
    d = spark.createDataFrame(rows, "id long, name string")
    out = {(r.a, r.b): r.w for r in meta_blocking_pairs(d, "id", "name").collect()}
    # edge weights: (1,2)=3, (3,4)=2, (1,3)=(2,3)=1, (1,4)=(2,4)=0/1
    # mean < 2 -> keep only the strong edges
    assert (1, 2) in out and out[(1, 2)] == 3
    assert (1, 3) not in out
    # pruning keeps strictly-above-mean edges only
    assert all(w > sum([3, 2, 1, 1]) / 4 - 1e-9 for w in out.values())


# ---------- cosine_prefix_pairs ----------


def _cos_docs(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),      # identical -> cos 1.0
        (3, "alpha beta gamma epsilon"),    # high overlap with 1/2
        (4, "zeta eta theta iota"),         # disjoint
        (5, "zeta eta theta kappa"),        # overlaps 4
    ]
    return spark.createDataFrame(rows, "id long, text string")


def _brute_cosine(spark, d, t):
    toks = d.select(
        F.col("id").alias("i"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    )
    tf = toks.groupBy("i", "tok").count()
    n = d.count()
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = tf.join(dfreq, "tok").withColumn(
        "w", F.col("count") * F.log(F.lit(1.0) + F.lit(float(n)) / F.col("df"))
    )
    nrm = w.groupBy("i").agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("nrm"))
    wn = w.join(nrm, "i").withColumn("wn", F.col("w") / F.col("nrm"))
    a = wn.select(F.col("i").alias("id1"), "tok", F.col("wn").alias("wa"))
    b = wn.select(F.col("i").alias("id2"), "tok", F.col("wn").alias("wb"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cos"))
        .filter(F.col("cos") >= t)
    )
    return {(r.id1, r.id2): r.cos for r in pairs.collect()}


def test_cosine_pairs_match_brute_force(spark):
    d = _cos_docs(spark)
    t = 0.5
    got = {(r.id1, r.id2): r.cosine for r in cosine_prefix_pairs(d, "id", "text", t).collect()}
    want = _brute_cosine(spark, d, t)
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6
    assert got[(1, 2)] == pytest.approx(1.0, abs=1e-6)
    assert (1, 4) not in got


def test_cosine_pairs_partition_invariant(spark):
    d = _cos_docs(spark)
    a = sorted(map(tuple, cosine_prefix_pairs(d, "id", "text", 0.4).collect()))
    b = sorted(
        map(tuple, cosine_prefix_pairs(d.repartition(5), "id", "text", 0.4).collect())
    )
    assert a == b


def test_cosine_pairs_threshold_validation(spark):
    d = _cos_docs(spark)
    with pytest.raises(ValueError):
        cosine_prefix_pairs(d, "id", "text", 0.0)


# ---------- compaction_plan ----------


def test_compaction_plan_bins_by_prefix_sum(spark):
    # 10 files of 40 bytes, target 100: starts 0,40,80,... -> groups
    # 0:(0,40,80) 1:(120,160) 2:(200,240,280) 3:(320,360)
    files = spark.createDataFrame(
        [(f"f{i:02d}", 40) for i in range(10)], "path string, bytes long"
    )
    out = {r.group_id: r for r in compaction_plan(files, "path", "bytes", 100).collect()}
    assert [out[g].n_files for g in sorted(out)] == [3, 2, 3, 2]
    assert out[0].first_id == "f00" and out[0].last_id == "f02"
    assert out[3].last_id == "f09"
    assert sum(r.total_bytes for r in out.values()) == 400


def test_compaction_plan_groups_are_contiguous(spark):
    import random

    rng = random.Random(7)
    files = spark.createDataFrame(
        [(f"f{i:03d}", rng.randrange(1, 500)) for i in range(200)],
        "path string, bytes long",
    )
    rows = compaction_plan(files, "path", "bytes", 1000).collect()
    spans = sorted((r.first_id, r.last_id, r.group_id) for r in rows)
    for (f1, l1, g1), (f2, l2, g2) in zip(spans, spans[1:]):
        assert l1 < f2  # no interleaving: groups partition the id order
    assert sum(r.n_files for r in rows) == 200


def test_compaction_plan_validates_target(spark):
    files = spark.createDataFrame([("a", 1)], "path string, bytes long")
    with pytest.raises(ValueError):
        compaction_plan(files, "path", "bytes", 0)


# ---------- split_leakage ----------


def test_split_leakage_finds_cross_split_dupes(spark):
    rows = [
        (1, "g1", "unique text one"),
        (2, "g2", "THE  shared text"),   # same normal form as 3, other split
        (3, "g3", "the shared text"),
        (4, "g4", "the shared text"),
        (5, "g5", "unique text two"),
    ]
    d = spark.createDataFrame(rows, "id long, grp string, text string")
    # engineer the split: g2 -> eval, everything else train
    d = d.withColumn(
        "split", F.when(F.col("grp") == "g2", "eval").otherwise("train")
    )
    out = split_leakage(d, "id", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_splits == 2 and r.n_docs == 3
    assert r.splits == "eval,train"
    assert r.sample_ids == "2,3,4"


def test_split_leakage_clean_when_grouped(spark):
    rows = [(i, f"g{i % 3}", f"text {i % 3}") for i in range(30)]
    d = group_split(
        spark.createDataFrame(rows, "id long, grp string, text string"),
        "grp",
        [("train", 0.5), ("eval", 0.5)],
    )
    # duplicates only exist within a group -> grouped split leaks nothing
    assert split_leakage(d, "id", "text").count() == 0
