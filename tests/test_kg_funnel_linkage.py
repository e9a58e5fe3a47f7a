"""Unit tests for clustering coefficient, predicate stats, N-Quads
serialization, Fellegi-Sunter scoring, and rendezvous sharding."""

import datetime
import math

import pytest
from pyspark.sql import functions as F


def test_clustering_coefficient_triangle_plus_pendant(spark):
    from graph_importer_spark.operators.analytics import clustering_coefficient

    # triangle 1-2-3 plus pendant 4 hanging off 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], "src long, dst long"
    )
    got = {r["id"]: r for r in clustering_coefficient(edges).collect()}
    assert got[2]["lcc"] == 1.0 and got[3]["lcc"] == 1.0
    # vertex 1: deg 3, one closed pair of three -> 2*1/(3*2) = 1/3
    assert got[1]["deg"] == 3 and got[1]["triangles"] == 1
    assert got[1]["lcc"] == round(1 / 3, 6)
    assert got[4]["lcc"] == 0.0 and got[4]["deg"] == 1


def test_predicate_stats_functionality(spark):
    from graph_importer_spark.triples import predicate_stats

    t = spark.createDataFrame(
        [
            ("a", "born_in", "x"),
            ("b", "born_in", "y"),
            ("a", "born_in", "x"),  # duplicate fact — deduped
            ("a", "knows", "b"),
            ("a", "knows", "c"),
        ],
        "subj string, pred string, obj string",
    )
    got = {r["pred"]: r for r in predicate_stats(t).collect()}
    assert got["born_in"]["n_facts"] == 2
    assert got["born_in"]["functionality"] == 1.0  # 2 subj / 2 facts
    assert got["knows"]["n_facts"] == 2
    assert got["knows"]["functionality"] == 0.5  # 1 subj / 2 facts
    assert got["knows"]["inv_functionality"] == 1.0


def test_to_nquads_escapes_forbidden_chars(spark):
    from graph_importer_spark.triples import to_nquads

    t = spark.createDataFrame(
        [("a b", 'p"q', "o<>", "http://e.x/1 2")],
        "subj string, pred string, obj string, url string",
    )
    row = to_nquads(t, base="http://kg.invalid").collect()[0]
    assert row["line"] == (
        "<http://kg.invalid/entity/a%20b> <http://kg.invalid/prop/p%22q>"
        " <http://kg.invalid/entity/o%3C%3E> <http://e.x/1%202> ."
    )
    assert len(row["line_md5"]) == 32


def _ts(s):
    return datetime.datetime(2026, 1, 1, 0, 0, s)


def test_fs_score_decisions(spark):
    from graph_importer_spark.operators.linkage import fs_score

    pairs = spark.createDataFrame(
        [(1, 2, True, True), (3, 4, False, False), (5, 6, True, False)],
        "a long, b long, f1 boolean, f2 boolean",
    )
    w = {"f1": (0.9, 0.1), "f2": (0.8, 0.2)}
    both = math.log(9) + math.log(4)
    neither = math.log(0.1 / 0.9) + math.log(0.2 / 0.8)
    out = {r["a"]: r for r in fs_score(pairs, w, lower=0.0, upper=3.0).collect()}
    assert out[1]["fs_weight"] == round(both, 6)
    assert out[1]["fs_decision"] == "match"
    assert out[3]["fs_weight"] == round(neither, 6)
    assert out[3]["fs_decision"] == "non_match"
    assert out[5]["fs_decision"] == "possible"
    with pytest.raises(ValueError):
        fs_score(pairs, {"f1": (1.0, 0.1)}).collect()


def test_rendezvous_shard_stability_and_movement(spark):
    from graph_importer_spark.operators.layout import (
        rendezvous_shard,
        shard_balance,
    )

    df = spark.range(0, 2000).select(F.col("id"))
    s8 = df.select("id", rendezvous_shard(F.col("id"), 8).alias("s"))
    rows = s8.collect()
    assert all(0 <= r["s"] < 8 for r in rows)
    # every shard is populated and roughly balanced
    bal = {r["s"]: r for r in shard_balance(s8, "s").collect()}
    assert set(bal) == set(range(8))
    assert all(0.5 < r["skew"] < 1.5 for r in bal.values())
    # growing 8 -> 9 shards: keys either keep their shard or move to
    # the NEW shard (the rendezvous minimal-movement property)
    s9 = {r["id"]: r["s9"] for r in df.select(
        "id", rendezvous_shard(F.col("id"), 9).alias("s9")).collect()}
    moved = [(r["id"], r["s"], s9[r["id"]]) for r in rows if s9[r["id"]] != r["s"]]
    assert all(new == 8 for _, _, new in moved)
    assert 0 < len(moved) < 2000 * 0.25  # ~1/9 expected
    with pytest.raises(ValueError):
        rendezvous_shard(F.col("id"), 0)


def test_rolling_zscore_known_values(spark):
    from graph_importer_spark.operators.timeseries import rolling_zscore

    rows = [(1, i, datetime.datetime(2026, 1, 1, 0, 0, i), v)
            for i, v in enumerate([10.0, 10.0, 10.0, 10.0, 100.0, 10.0])]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = {r["event_id"]: r for r in rolling_zscore(
        df, "user_id", "ts", "event_id", "value", window=5).collect()}
    # first row: no history
    assert out[0]["n_prev"] == 0 and out[0]["roll_mean"] is None
    assert out[0]["roll_std"] is None and out[0]["is_anomaly"] is False
    # row 4 (value 100): previous 4 are all 10 -> std 0, |100-10| > 0
    assert out[4]["roll_mean"] == 10.0 and out[4]["roll_std"] == 0.0
    assert out[4]["is_anomaly"] is True
    # row 5: history now contains the 100 spike -> high std, 10 is fine
    assert out[5]["is_anomaly"] is False
    # row 2: only 2 history rows < min_prev -> never anomalous
    assert out[2]["n_prev"] == 2 and out[2]["is_anomaly"] is False


def test_rrf_fuse_ranks_and_overlap(spark):
    from graph_importer_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc long, score double"
    )
    b = spark.createDataFrame(
        [(2, 7.0), (4, 3.0)], "doc long, score double"
    )
    got = {r["doc"]: r for r in
           rrf_fuse({"a": a, "b": b}, "doc", "score", k_rrf=60).collect()}
    assert got[2]["n_runs"] == 2
    assert got[2]["rrf"] == round(1 / 62 + 1 / 61, 6)  # rank 2 in a, 1 in b
    assert got[1]["rrf"] == round(1 / 61, 6)
    assert got[4]["rrf"] == round(1 / 62, 6)
    # overlap doc must outrank every single-run doc here
    assert got[2]["rrf"] > max(got[1]["rrf"], got[3]["rrf"], got[4]["rrf"])
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rrf_fuse({}, "doc")


def test_prefix_filter_matches_exhaustive_jaccard(spark):
    from graph_importer_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    docs = [(0, base)]
    words = base.split()
    for i in range(1, 12):
        w = list(words)
        w[i % len(w)] = f"tok{i}"
        if i % 3 == 0:
            w = w + ["extra", f"pad{i}", "words"]
        docs.append((i, " ".join(w)))
    docs.append((20, "completely different content about spark shuffles"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {(r["id1"], r["id2"]): r["jaccard"] for r in
           prefix_filter_pairs(df, "doc_id", "text", k=3, threshold=0.3).collect()}
    want = {(r["id1"], r["id2"]): r["jaccard"] for r in
            ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.3).collect()}
    assert got == want and len(got) > 0
    # the disjoint doc never pairs
    assert not any(20 in p for p in got)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        prefix_filter_pairs(df, "doc_id", "text", threshold=0.0)


def test_auc_score_known_values(spark):
    from graph_importer_spark.operators.evalmetrics import auc_score

    def auc_of(rows):
        df = spark.createDataFrame(rows, "label int, score double")
        return auc_score(df, "label", "score").collect()[0]

    # perfect separation
    r = auc_of([(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)])
    assert r["auc"] == 1.0 and r["n_pos"] == 2 and r["n_neg"] == 2
    # perfectly wrong
    assert auc_of([(0, 0.9), (1, 0.1)])["auc"] == 0.0
    # all tied -> 0.5
    assert auc_of([(1, 0.5), (0, 0.5), (1, 0.5)])["auc"] == 0.5
    # mixed: pos {0.8, 0.4}, neg {0.6, 0.2}
    # pairs: (.8>.6),(.8>.2),(.4<.6),(.4>.2) -> 3/4
    assert auc_of([(1, 0.8), (1, 0.4), (0, 0.6), (0, 0.2)])["auc"] == 0.75


def test_precision_recall_at_k(spark):
    from graph_importer_spark.operators.evalmetrics import precision_recall_at_k

    run = spark.createDataFrame(
        [("q1", d, 10.0 - d) for d in range(1, 7)]
        + [("q2", d, 10.0 - d) for d in range(1, 3)],
        "query string, doc long, score double",
    )
    truth = spark.createDataFrame(
        # q1: relevant docs 1, 3, 9 (9 not retrieved); q2: doc 5 only
        [("q1", 1), ("q1", 3), ("q1", 9), ("q2", 5)],
        "query string, doc long",
    )
    got = {r["query"]: r for r in precision_recall_at_k(
        run, truth, "query", "doc", "score", k=4).collect()}
    assert got["q1"]["n_hits"] == 2 and got["q1"]["n_rel"] == 3
    assert got["q1"]["precision_at_k"] == 0.5
    assert got["q1"]["recall_at_k"] == round(2 / 3, 6)
    # q2 retrieved nothing relevant -> zero row still present
    assert got["q2"]["n_hits"] == 0 and got["q2"]["precision_at_k"] == 0.0


def test_simhash_pigeonhole_matches_brute_force(spark):
    from graph_importer_spark.operators.dedup import simhash_near_dup_pairs
    from graph_importer_spark.operators.textstats import simhash64

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = [(0, base), (1, base + " phi"), (2, base + " phi chi"),
            (3, "totally unrelated words about distributed query engines"),
            (4, base.replace("gamma", "chi")), (5, base)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {(r["id1"], r["id2"]): r["hamming"] for r in
           simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=5).collect()}
    # brute force over all pairs
    sigs = {r["doc_id"]: r["simhash"] for r in
            simhash64(df, "doc_id", "text").collect()}
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 5:
                want[(a, b)] = h
    assert got == want
    assert (0, 5) in got and got[(0, 5)] == 0  # identical docs
    assert not any(3 in p for p in got)  # unrelated doc never pairs
    import pytest as _pytest
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=6)  # 7 ∤ 60


def test_ndcg_at_k_known_values(spark):
    import math as _m
    from graph_importer_spark.operators.evalmetrics import ndcg_at_k

    run = spark.createDataFrame(
        [("q", 1, 5.0), ("q", 2, 4.0), ("q", 3, 3.0)],
        "query string, doc long, score double",
    )
    truth = spark.createDataFrame(
        [("q", 2), ("q", 3), ("q", 9)], "query string, doc long"
    )
    r = ndcg_at_k(run, truth, "query", "doc", "score", k=3).collect()[0]
    dcg = 1 / _m.log2(3) + 1 / _m.log2(4)          # hits at ranks 2, 3
    idcg = 1 + 1 / _m.log2(3) + 1 / _m.log2(4)     # 3 relevant, k=3
    assert r["dcg"] == round(dcg, 6)
    assert r["idcg"] == round(idcg, 6)
    assert r["ndcg"] == round(dcg / idcg, 6)
    # perfect ranking -> ndcg 1.0
    perfect = spark.createDataFrame(
        [("q", 2, 9.0), ("q", 3, 8.0), ("q", 9, 7.0)],
        "query string, doc long, score double",
    )
    assert ndcg_at_k(perfect, truth, "query", "doc", "score", k=3) \
        .collect()[0]["ndcg"] == 1.0


def test_transition_counts_probabilities(spark):
    from graph_importer_spark.operators.timeseries import transition_counts

    rows = [
        (1, 1, _ts(1), "a"), (1, 2, _ts(2), "b"), (1, 3, _ts(3), "a"),
        (1, 4, _ts(4), "b"),
        (2, 5, _ts(1), "a"), (2, 6, _ts(2), "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {(r["prev_type"], r["next_type"]): r for r in
           transition_counts(df).collect()}
    # a -> b twice, a -> a once; b -> a once
    assert got[("a", "b")]["n"] == 2 and got[("a", "a")]["n"] == 1
    assert got[("a", "b")]["p"] == round(2 / 3, 6)
    assert got[("b", "a")]["p"] == 1.0
    # sequences never cross users: no b->a from user 1 to user 2
    assert sum(r["n"] for r in got.values()) == 4
