"""st_mincut (operators/flow.py): hand-verified max-flow / min-cut on
classic networks, duality, determinism, and disconnection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.flow import st_mincut


def _cut(spark, rows, s, t, **kw):
    df = spark.createDataFrame(rows, "src string, dst string, cap long")
    return st_mincut(df, s, t, cap_col="cap", **kw)


def test_clrs_network_maxflow_23(spark):
    # CLRS figure 26.1 network: known max flow 23, min cut
    # {s,v1,v2,v4} | {v3,t}: edges v1->v3 (12), v4->v3 (7), v4->t (4)
    rows = [
        ("s", "v1", 16), ("s", "v2", 13), ("v1", "v3", 12),
        ("v2", "v1", 4), ("v2", "v4", 14), ("v3", "v2", 9),
        ("v3", "t", 20), ("v4", "v3", 7), ("v4", "t", 4),
    ]
    cut = _cut(spark, rows, "s", "t").collect()
    assert cut[0].max_flow == 23
    assert {(r.src, r.dst, r.capacity) for r in cut} == {
        ("v1", "v3", 12), ("v4", "v3", 7), ("v4", "t", 4)
    }
    assert sum(r.capacity for r in cut) == 23  # duality


def test_unit_capacity_edge_disjoint_paths(spark):
    # 3 disjoint s->t paths of unit capacity -> flow 3; cut = the three
    # source arcs (s is on the source side, mids are beyond saturation)
    rows = []
    for i in range(3):
        rows += [("s", f"m{i}", 1), (f"m{i}", "t", 1)]
    cut = _cut(spark, rows, "s", "t").collect()
    assert cut[0].max_flow == 3
    assert len(cut) == 3


def test_bottleneck_middle_edge(spark):
    # wide fan-in/out around one capacity-2 middle edge
    rows = [
        ("s", "a", 10), ("s", "b", 10), ("a", "m", 10), ("b", "m", 10),
        ("m", "n", 2), ("n", "x", 10), ("n", "y", 10),
        ("x", "t", 10), ("y", "t", 10),
    ]
    cut = _cut(spark, rows, "s", "t").collect()
    assert cut[0].max_flow == 2
    assert [(r.src, r.dst) for r in cut] == [("m", "n")]


def test_disconnected_returns_empty(spark):
    rows = [("s", "a", 5), ("b", "t", 5)]
    out = _cut(spark, rows, "s", "t")
    assert out.count() == 0


def test_deterministic_across_partitioning(spark):
    rows = [
        ("s", "a", 3), ("s", "b", 2), ("a", "c", 2), ("a", "d", 2),
        ("b", "c", 2), ("c", "t", 3), ("d", "t", 1), ("b", "d", 1),
    ]
    df = spark.createDataFrame(rows, "src string, dst string, cap long")
    a = sorted(map(tuple, st_mincut(df, "s", "t", cap_col="cap").collect()))
    b = sorted(
        map(
            tuple,
            st_mincut(df.repartition(7), "s", "t", cap_col="cap").collect(),
        )
    )
    assert a == b and a[0][3] == sum(r[2] for r in a)


def test_default_capacity_and_long_ids(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    ).withColumn("w", F.lit(None).cast("long"))
    cut = st_mincut(
        df, 1, 4, cap_col="w", default_capacity=1
    ).collect()
    assert cut[0].max_flow == 2


_TWO_PATHS = [("s", "a", 1), ("a", "t", 1), ("s", "b", 1), ("b", "t", 1)]


def test_truncated_run_raises_not_lies(spark):
    # max flow 2 needs two augmenting paths
    with pytest.raises(ValueError, match="still augmenting"):
        _cut(spark, _TWO_PATHS, "s", "t", max_augmentations=1)


def test_exact_augmentation_budget_completes(spark):
    cut = _cut(spark, _TWO_PATHS, "s", "t", max_augmentations=2).collect()
    assert cut[0].max_flow == 2
    assert {(r.src, r.dst) for r in cut} == {("s", "a"), ("s", "b")}


def test_float_capacities_rejected(spark):
    df = spark.createDataFrame(
        [("s", "a", 1.5), ("a", "t", 1.5)], "src string, dst string, cap double"
    )
    with pytest.raises(ValueError, match="integral"):
        st_mincut(df, "s", "t", cap_col="cap")
    with pytest.raises(ValueError, match="must be an int"):
        st_mincut(df.drop("cap"), "s", "t", default_capacity=1.5)
