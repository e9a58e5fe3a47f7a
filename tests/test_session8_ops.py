"""Round-4 session-8 operators: GraphSAGE neighbor sampling, mojibake
repair, knowledge fusion, curriculum ordering, RDFS type inference,
contrastive chunk pairs.  Semantic tests (bounds, determinism, known
answers) — the KG and graph operators
also have oracle rows in the contract sweep."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_importer_spark.operators.analytics import (
    neighbor_sample,
    ontology_types,
)
from graph_importer_spark.operators.packing import contrastive_pairs
from graph_importer_spark.operators.sampling import curriculum_order
from graph_importer_spark.operators.textstats import (
    MOJIBAKE_TABLE,
    mojibake_columns,
    mojibake_stats,
)
from graph_importer_spark.triples import fact_fusion


# ---------- neighbor_sample ----------


def _toy_graph(spark):
    # node 0 has 6 neighbors (1..6); nodes 1..6 each point at 10+i and 20+i
    edges = [(0, i) for i in range(1, 7)]
    edges += [(i, 10 + i) for i in range(1, 7)]
    edges += [(i, 20 + i) for i in range(1, 7)]
    return spark.createDataFrame(edges, "src long, dst long")


def test_neighbor_sample_fanout_bounds(spark):
    edges = _toy_graph(spark)
    sources = spark.createDataFrame([(0,)], "id long")
    out = neighbor_sample(edges, sources, fanouts=[3, 1], seed=7)
    rows = out.collect()
    l1 = [r for r in rows if r.layer == 1]
    l2 = [r for r in rows if r.layer == 2]
    # layer 1: exactly 3 of node 0's 6 neighbors
    assert len(l1) == 3 and all(r.src == 0 for r in l1)
    assert all(1 <= r.dst <= 6 for r in l1)
    # layer 2 expands exactly the sampled frontier, 1 neighbor each
    l1_dst = {r.dst for r in l1}
    assert {r.src for r in l2} == l1_dst
    per_src = {}
    for r in l2:
        per_src[r.src] = per_src.get(r.src, 0) + 1
    assert all(v == 1 for v in per_src.values())


def test_neighbor_sample_deterministic(spark):
    edges = _toy_graph(spark)
    sources = spark.createDataFrame([(0,)], "id long")
    a = sorted(map(tuple, neighbor_sample(edges, sources, [4, 2], seed=7).collect()))
    b = sorted(map(tuple, neighbor_sample(edges, sources, [4, 2], seed=7).collect()))
    c = sorted(map(tuple, neighbor_sample(edges, sources, [4, 2], seed=8).collect()))
    assert a == b
    assert a != c  # a different seed draws a different sample


# ---------- mojibake ----------


def test_mojibake_repairs_known_damage(spark):
    damaged = "CafÃ© â€œnaÃ¯veâ€™ donâ€™t Â\xa0x"
    clean = "all good here"
    df = spark.createDataFrame(
        [(1, damaged), (2, clean)], "id long, text string"
    )
    out = {r.id: r for r in mojibake_stats(df, "id", "text").collect()}
    assert out[1].mojibake_hits == 6 and out[1].is_mojibake
    assert out[2].mojibake_hits == 0 and not out[2].is_mojibake
    fixed = df.filter(F.col("id") == 1).select(
        mojibake_columns("text")["fixed_text"].alias("t")
    ).head()[0]
    assert fixed == "Café “naïve’ don’t  x"  # Â+nbsp -> plain space


def test_mojibake_table_is_confluent():
    # no pattern is a substring of another -> chained replace order-free
    bads = [b for b, _ in MOJIBAKE_TABLE]
    for a in bads:
        for b in bads:
            if a != b:
                assert a not in b


# ---------- fact_fusion ----------


def test_fact_fusion_weighted_vote_and_tiebreak(spark):
    claims = spark.createDataFrame(
        [
            # e1/born: paris backed by w=3 (s3), london by w=1+1 (s1,s2)
            ("s3", "e1", "born", "paris"),
            ("s1", "e1", "born", "london"),
            ("s2", "e1", "born", "london"),
            ("s1", "e1", "born", "london"),  # duplicate claim dedups
            # e2/born: tie at w=1 -> lexicographically larger obj wins
            ("s1", "e2", "born", "aaa"),
            ("s2", "e2", "born", "zzz"),
        ],
        "source string, subj string, pred string, obj string",
    )
    weights = spark.createDataFrame(
        [("s1", 1.0), ("s2", 1.0), ("s3", 3.0)], "source string, weight double"
    )
    out = {(r.subj, r.pred): r for r in fact_fusion(claims, weights).collect()}
    assert out[("e1", "born")].obj == "paris"
    assert out[("e1", "born")].total_weight == 3.0
    assert out[("e2", "born")].obj == "zzz"
    assert out[("e2", "born")].n_sources == 1


# ---------- curriculum_order ----------


def test_curriculum_phases_balanced(spark):
    rows = [("d", i, float(100 - i)) for i in range(9)]
    df = spark.createDataFrame(rows, "g string, id long, score double")
    out = curriculum_order(df, "g", "score", "id", phases=3).collect()
    by_phase = {}
    for r in out:
        by_phase.setdefault(r.phase, []).append(r)
    assert sorted(by_phase) == [0, 1, 2]
    assert [len(by_phase[p]) for p in (0, 1, 2)] == [3, 3, 3]
    # best scores land in phase 0, ranks 1..n total order
    assert {r.id for r in by_phase[0]} == {0, 1, 2}
    assert sorted(r.rank for r in out) == list(range(1, 10))


# ---------- ontology_types ----------


def test_ontology_types_inherits_through_chain(spark):
    inst = spark.createDataFrame(
        [("e1", "cat"), ("e2", "dog")], "entity string, cls string"
    )
    sub = spark.createDataFrame(
        [("cat", "mammal"), ("dog", "mammal"), ("mammal", "animal")],
        "sub string, sup string",
    )
    out = ontology_types(inst, sub)
    got = {(r.entity, r.type) for r in out.collect()}
    assert got == {
        ("e1", "cat"), ("e1", "mammal"), ("e1", "animal"),
        ("e2", "dog"), ("e2", "mammal"), ("e2", "animal"),
    }


def test_ontology_types_diamond_dedups(spark):
    inst = spark.createDataFrame([("e", "a")], "entity string, cls string")
    sub = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "sub string, sup string",
    )
    out = ontology_types(inst, sub).collect()
    assert len(out) == len({(r.entity, r.type) for r in out}) == 4


# ---------- contrastive_pairs ----------


def test_contrastive_pairs_adjacency(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens -> 4 chunks of 3
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        contrastive_pairs(df, "doc_id", "text", chunk_tokens=3).collect(),
        key=lambda r: r.chunk_id,
    )
    assert len(out) == 3  # n_chunks - 1 successor pairs
    assert out[0].anchor == "t0 t1 t2" and out[0].positive == "t3 t4 t5"
    assert out[-1].anchor == "t6 t7 t8" and out[-1].positive == "t9"


def test_contrastive_pairs_single_chunk_doc_has_no_pairs(spark):
    df = spark.createDataFrame([(1, "just two")], "doc_id long, text string")
    assert contrastive_pairs(df, "doc_id", "text", chunk_tokens=16).count() == 0
