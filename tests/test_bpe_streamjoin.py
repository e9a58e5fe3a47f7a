"""BPE vocabulary learning, entity summary."""

from __future__ import annotations

from graph_importer_spark.operators.bpe import bpe_learn, bpe_segment
from graph_importer_spark.triples import entity_summary


# -- BPE ----------------------------------------------------------------------

def test_bpe_sennrich_example(spark):
    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "id long, text string",
    )
    got = [(r.step, r.left, r.right, r.merged, r.n) for r in
           bpe_learn(docs, "text", n_merges=3).collect()]
    # 'lo' appears in low x4 + lower + lowest = 6; then 'lo w' = 6
    assert got[0] == (1, "l", "o", "lo", 6)
    assert got[1] == (2, "lo", "w", "low", 6)
    assert got[2] == (3, "e", "w", "ew", 3)


def test_bpe_tiebreak_lexicographic(spark):
    # 'ab' and 'cd' pairs both appear twice -> 'a b' wins (smaller pair)
    docs = spark.createDataFrame([(1, "ab ab cd cd")], "id long, text string")
    r = bpe_learn(docs, "text", n_merges=1).collect()[0]
    assert (r.left, r.right) == ("a", "b")


def test_bpe_early_stop(spark):
    # single-char words: no adjacent pairs, merge table is empty
    docs = spark.createDataFrame([(1, "a b c")], "id long, text string")
    out = bpe_learn(docs, "text", n_merges=5)
    assert out.count() == 0
    assert out.columns == ["step", "left", "right", "merged", "n"]


def test_bpe_segment(spark):
    docs = spark.createDataFrame([(1, "lowest low")], "id long, text string")
    merges = [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"), ("low", "est")]
    r = bpe_segment(docs, "id", "text", merges).collect()[0]
    assert r.bpe_tokens == ["lowest", "low"]
    assert r.n_bpe_tokens == 2


def test_bpe_segment_greedy_left_to_right(spark):
    # merge (a, a) applied to 'aaa' -> greedy: 'aa' + 'a'
    docs = spark.createDataFrame([(1, "aaa")], "id long, text string")
    r = bpe_segment(docs, "id", "text", [("a", "a")]).collect()[0]
    assert r.bpe_tokens == ["aa", "a"]


# -- entity summary -----------------------------------------------------------

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
