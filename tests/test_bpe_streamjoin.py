"""Entity summary: the top-k facts per subject by predicate rarity."""

from __future__ import annotations

from graph_importer_spark.triples import entity_summary


def test_entity_summary_ranking(spark):
    # pred 'rare' (1 fact) outranks 'common' (4 facts): N=6
    rows = [
        ("e1", "common", "x1"), ("e1", "common", "x2"),
        ("e1", "common", "x3"), ("e1", "common", "x4"),
        ("e1", "rare", "y"),
        ("e2", "mid", "z"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = entity_summary(t, k=2).collect()
    by_subj = {}
    for r in got:
        by_subj.setdefault(r.subj, []).append((r.pred, r.obj, r.score))
    assert len(by_subj["e1"]) == 2
    # rare first, then the lexicographically smallest common fact
    assert by_subj["e1"][0][0] == "rare" or by_subj["e1"][1][0] == "rare"
    preds = {p for p, _, _ in by_subj["e1"]}
    assert preds == {"rare", "common"}
    objs = [o for p, o, _ in by_subj["e1"] if p == "common"]
    assert objs == ["x1"]
    assert len(by_subj["e2"]) == 1


def test_entity_summary_dedups_facts(spark):
    rows = [("e1", "p", "x"), ("e1", "p", "x"), ("e1", "p", "y")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    assert entity_summary(t, k=5).count() == 2
