"""Round-4 session-12 operators: dangling-edge audit, web-table triple
lifting, containment keeper, degree-distribution KS, LSH parameter
planning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.analytics import degree_ks
from graph_importer_spark.operators.dedup import (
    containment_pairs,
    keep_superset,
    lsh_plan,
)
from graph_importer_spark.operators.webtables import (
    elect_subject_columns,
    lift_tables,
)
from graph_importer_spark.triples import dangling_edges


# ---------- dangling_edges ----------


def test_dangling_edges_flags_missing_endpoints(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "ghost"), ("phantom", "b"), ("x", "y")],
        "subj string, obj string",
    )
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    out = {(r.subj, r.obj): r.missing for r in dangling_edges(edges, verts).collect()}
    assert out == {("a", "ghost"): "dst", ("phantom", "b"): "src", ("x", "y"): "both"}


# ---------- webtables ----------


def _cells(spark):
    rows = []
    # table 1: col 0 = city (unique, subject), col 1 = country
    data = [("berlin", "germany"), ("paris", "france"), ("rome", "italy")]
    for i, (city, country) in enumerate(data):
        rows.append(("t1", i, 0, "city", city))
        rows.append(("t1", i, 1, "country", country))
    # table 2: col 0 repeats (not unique), col 1 unique -> subject is col 1
    data2 = [("x", "p1"), ("x", "p2"), ("x", "p3")]
    for i, (grp, prod) in enumerate(data2):
        rows.append(("t2", i, 0, "group", grp))
        rows.append(("t2", i, 1, "product", prod))
    # table 3: nothing unique -> dropped
    for i in range(4):
        rows.append(("t3", i, 0, "k", "same"))
    return spark.createDataFrame(
        rows, "table_id string, row_id long, col_id int, header string, value string"
    )


def test_elect_subject_columns(spark):
    out = {r.table_id: r for r in elect_subject_columns(_cells(spark)).collect()}
    assert out["t1"].subj_col == 0 and out["t1"].uniq_ratio == 1.0
    assert out["t2"].subj_col == 1
    assert "t3" not in out


def test_lift_tables_triples(spark):
    got = {(r.table_id, r.subj, r.pred, r.obj)
           for r in lift_tables(_cells(spark)).collect()}
    assert ("t1", "berlin", "country", "germany") in got
    assert ("t2", "p2", "group", "x") in got
    assert not any(t == "t3" for t, *_ in got)
    assert len(got) == 6


# ---------- keep_superset ----------


def test_keep_superset_drops_contained(spark):
    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    mid = "alpha beta gamma delta epsilon zeta eta"
    quote = "beta gamma delta epsilon"
    d = spark.createDataFrame(
        [(1, long), (2, mid), (3, quote), (4, "totally different words here")],
        "id long, text string",
    )
    pairs = containment_pairs(d, "id", "text", k=3, threshold=0.9)
    out = {r.id: r for r in keep_superset(d, pairs, "id", "text").collect()}
    assert out[1].kept and out[4].kept
    assert not out[2].kept and out[2].kept_by == 1
    assert not out[3].kept and out[3].kept_by in (1, 2)
    # the largest container wins the witness slot
    assert out[3].kept_by == 1


# ---------- degree_ks ----------


def test_degree_ks_identical_graphs_zero(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    r = degree_ks(e, e).collect()[0]
    assert r.ks == 0.0 and r.n_a == r.n_b == 4


def test_degree_ks_known_value(spark):
    # a: path of 3 (degrees 1,2,1); b: triangle (2,2,2)
    a = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    b = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    r = degree_ks(a, b).collect()[0]
    # CDF at deg=1: a 2/3, b 0 -> KS = 2/3
    assert r.ks == pytest.approx(2 / 3, abs=1e-6)


# ---------- lsh_plan ----------


def test_lsh_plan_chooses_feasible_minimum(spark):
    out = lsh_plan(spark, threshold=0.8, n_perm_max=64, target_recall=0.95)
    rows = out.collect()
    chosen = [r for r in rows if r.chosen]
    assert len(chosen) == 1
    c = chosen[0]
    assert c.recall >= 0.95
    assert c.n_perm == min(
        r.n_perm for r in rows if r.recall >= 0.95
    )
    # the curve math: recall = 1 - (1 - t^r)^b
    expect = 1 - (1 - 0.8 ** c.r) ** c.b
    assert c.recall == pytest.approx(expect, abs=1e-6)
    # planner grid respects the budget
    assert all(r.n_perm <= 64 for r in rows)


def test_lsh_plan_validates_threshold(spark):
    with pytest.raises(ValueError):
        lsh_plan(spark, threshold=0.0)
