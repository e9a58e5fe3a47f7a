"""Training-data operators: dedup, text stats, similarity, skew helpers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators import dedup, similarity, skew, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),        # exact dup of 0
        (2, "The  quick Brown fox jumps over the lazy dog"),       # near dup (case/ws)
        (3, "the quick brown fox jumps over the sleepy dog"),      # 1-word change
        (4, "completely different content about spark engines"),
        (5, "a b"),                                                # shorter than k
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark, docs):
    g = dedup.exact_dup_groups(docs, "doc_id", "text").collect()
    assert len(g) == 1
    assert g[0]["n_dups"] == 2 and g[0]["keeper"] == 0


def test_fingerprint_normalizes_case_ws(spark, docs):
    fp = dedup.fingerprint_dedup(docs, "doc_id", "text").collect()
    groups = {r["keeper"]: r["n_docs"] for r in fp}
    assert groups[0] == 3  # docs 0,1,2 share the normal form
    assert len(fp) == 4


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.lsh_candidate_pairs(
            docs, "doc_id", "text", k=3, n_hashes=12, bands=6
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_values(spark, docs):
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0  # same after normalization
    assert 0.3 <= pairs[(0, 3)] < 1.0
    assert (0, 4) not in pairs


def test_ngram_jaccard_max_df_drops_hot_shingles(spark, docs):
    # max_df=1: every shared shingle exceeds the cap, so the pair join
    # is empty — the hot-key guard blocks, it doesn't merely downweight
    capped = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.0, max_df=1
    )
    assert capped.count() == 0
    # a permissive cap reproduces the exact result
    loose = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.3, max_df=10**6
        ).collect()
    }
    assert loose[(0, 1)] == 1.0 and (0, 4) not in loose


def test_simhash_similar_docs_close(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in textstats.simhash64(docs, "doc_id", "text").collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert hamming(sh[0], sh[3]) < hamming(sh[0], sh[4])


def _py_winnow(text: str, k: int, w: int) -> set[tuple[str, int]]:
    """Pure-Python reference winnow (Schleimer et al. SIGMOD'03):
    min-of-window over md5 k-gram keys, ties -> leftmost position."""
    import hashlib
    import re

    t = re.sub(r"\s+", " ", text.lower()).strip()
    if len(t) < k + w - 1:
        return set()
    keys = [
        (hashlib.md5(t[i : i + k].encode()).hexdigest(), i + 1)
        for i in range(len(t) - k + 1)
    ]
    out = set()
    for j in range(len(keys) - w + 1):
        out.add(min(keys[j : j + w]))
    return out


def test_winnow_matches_python_reference(spark, docs):
    got = {
        r["doc_id"]: set()
        for r in docs.select("doc_id").collect()
    }
    for r in textstats.winnow_fingerprints(docs, "doc_id", "text", k=8, w=4).collect():
        got[r["doc_id"]].add((r["fp_hash"], r["fp_pos"]))
    for row in docs.collect():
        assert got[row["doc_id"]] == _py_winnow(row["text"], 8, 4), row["doc_id"]


def test_winnow_coverage_guarantee_and_normal_form(spark, docs):
    fps = textstats.winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)
    by_doc: dict[int, list[int]] = {}
    sets: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], []).append(r["fp_pos"])
        sets.setdefault(r["doc_id"], set()).add((r["fp_hash"], r["fp_pos"]))
    # identical and case/ws-variant docs share the exact fingerprint set
    assert sets[0] == sets[1] == sets[2]
    # doc 5 is shorter than k + w - 1: no fingerprints
    assert 5 not in sets
    # winnowing guarantee: every w-window selects, so consecutive
    # selected positions are at most w apart
    for doc_id, ps in by_doc.items():
        ps = sorted(ps)
        assert all(b - a <= 4 for a, b in zip(ps, ps[1:])), doc_id
    # the selection is narrow — no shuffle in the plan
    plan = fps._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_winnow_pairs_blocked_join(spark, docs):
    pairs = {
        (r["id1"], r["id2"]): r["n_shared"]
        for r in dedup.winnow_pairs(
            docs, "doc_id", "text", k=8, w=4, min_shared=2
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert not any(4 in p or 5 in p for p in pairs)
    # identical docs share every distinct fingerprint hash
    expected = {h for h, _ in _py_winnow("the quick brown fox jumps over the lazy dog", 8, 4)}
    assert pairs[(0, 1)] == len(expected)


def test_token_counts_and_ratios(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world! 123"), (1, ""), (2, "   "), (3, "one")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            textstats.token_count(F.col("text")).alias("n"),
            textstats.bpe_token_count(F.col("text")).alias("b"),
            textstats.punct_ratio(F.col("text")).alias("p"),
        ).collect()
    }
    assert out[0]["n"] == 3
    assert out[0]["b"] == 5  # Hello , world ! 123
    assert out[1]["n"] == 0 and out[2]["n"] == 0 and out[3]["n"] == 1
    assert out[0]["p"] == round(2 / 17, 6)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the house and it is warm"),
            (1, "der Hund ist nicht mit der Katze und das ist gut"),
            (2, "le chat est dans la maison et il est pas content"),
            (3, "el perro es un animal y no es una planta"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["l"] for r in df.select("doc_id", textstats.lang_id(F.col("text")).alias("l")).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog and runs far away today"),
         (1, "!!! ??? ;;; ::: !!!")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["q"] for r in df.select("doc_id", textstats.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= got[1] < got[0] <= 1.0


def test_gopher_columns_line_rules(spark):
    # exercises the line-based rules the synthetic corpus never triggers
    listy = "\n".join(["- bullet item %d" % i for i in range(9)] + ["plain line"])
    trailing = "\n".join(["starts fine but trails off..."] * 3 + ["solid line here"] * 2)
    good = ("the quick brown fox jumps over the lazy dog and it runs far " * 6).strip()
    symbols = "## tags # everywhere # in # this # short # doc and more..."
    df = spark.createDataFrame(
        [(0, listy), (1, trailing), (2, good), (3, symbols), (4, "")],
        "doc_id long, text string",
    )
    cols = textstats.gopher_columns(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(n) for n, c in cols.items()]).collect()
    }
    assert out[0]["bullet_line_frac"] == 0.9
    assert out[1]["ellipsis_line_frac"] == 0.6
    assert out[3]["symbol_word_ratio"] > 0.1 and not out[3]["gopher_pass"]
    assert out[2]["gopher_pass"]  # 66 words, all alpha, stopword-rich
    assert out[4]["n_words"] == 0 and not out[4]["gopher_pass"]


def test_repetition_stats(spark):
    rep = "spam ham spam ham spam ham spam ham"  # top 2-gram 'spam ham' x4 of 7
    lines = "alpha\nbeta\nalpha\n\n  \nbeta\ngamma"  # 5 non-blank, 3 distinct
    df = spark.createDataFrame(
        [(0, rep), (1, lines), (2, "single"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textstats.repetition_stats(df, "doc_id", "text").collect()
    }
    assert out[0]["top_2gram_frac"] == round(4 / 7, 6)
    assert out[0]["distinct_word_frac"] == 0.25
    assert out[1]["dup_line_frac"] == 0.4
    assert out[2]["top_2gram_frac"] == 0.0 and out[2]["distinct_word_frac"] == 1.0
    assert out[3]["n_words"] == 0 and out[3]["top_2gram_frac"] == 0.0


def test_dup_clusters_transitive(spark):
    # A~B, B~C, plus an unrelated pair: {1,2,3} -> keeper 1; {7,9} -> 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id1 long, id2 long"
    )
    out = {r["doc_id"]: r for r in dedup.dup_clusters(pairs).collect()}
    assert {d: r["keeper"] for d, r in out.items()} == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    assert [d for d, r in sorted(out.items()) if r["is_dup"]] == [2, 3, 9]


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.7, 0.7]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(emb, q, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])] == [
        (1, 1), (3, 2),
    ]


def test_ann_lsh_recall_vs_exact(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_topk_lsh(emb, q, k=5, n_bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2  # 4-bit buckets on random gaussians: partial recall expected


def test_ann_ivf_recall_on_clustered_data(spark):
    # 4 tight clusters around orthogonal axes in 8-d: IVF with enough
    # probes must recover the exact neighbors (same-cluster vectors
    # dominate cosine, and a whole cluster lands in one inverted list)
    import random

    rnd = random.Random(11)
    rows = []
    for i in range(120):
        axis = i % 4
        v = [rnd.gauss(0, 0.05) for _ in range(8)]
        v[axis * 2] += 1.0
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_topk_ivf(emb, q, k=5, n_centroids=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_ann_ivf_partition_invariance(spark):
    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, similarity.ann_topk_ivf(emb, q, k=3).collect()))
    b = sorted(
        map(tuple, similarity.ann_topk_ivf(emb.repartition(11), q, k=3).collect())
    )
    assert a == b and len(a) > 0


def test_embedding_near_dup(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    assert [(r["id1"], r["id2"]) for r in pairs] == [(0, 1)]


def test_salted_count_equals_plain(spark):
    df = spark.range(10000).select(F.pmod("id", F.lit(7)).alias("k"))
    plain = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    salted = {r["k"]: r["count"] for r in skew.salted_count(df, "k", buckets=8).collect()}
    assert plain == salted


def test_salted_join_equals_plain(spark):
    facts = spark.range(5000).select(F.pmod("id", F.lit(10)).alias("k"))
    dim = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    plain = facts.join(dim, "k").groupBy("k").agg(F.sum("v").alias("s"))
    salted = skew.salted_join_big_skewed(facts, dim, "k", buckets=4).groupBy("k").agg(F.sum("v").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_hot_key_spreads_across_salt_buckets(spark):
    """The degeneracy regression: a KEY-ONLY fact frame (every row of a
    hot key byte-identical) must still occupy >1 salt bucket — a
    content-hash salt parks them all on one reducer."""
    buckets = 8
    # 10k identical rows of one hot key, nothing but the key column
    hot = spark.range(10000).select(F.lit(42).alias("k"))
    occupied = (
        skew.with_salt(hot, buckets).select("_salt").distinct().count()
    )
    assert occupied == buckets

    # the same property through both salted helpers' first shuffle
    partial = (
        skew.with_salt(hot, buckets)
        .groupBy("k", "_salt")
        .agg(F.count("*").alias("c"))
    )
    assert partial.count() == buckets

    dim = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    joined = skew.salted_join_big_skewed(hot, dim, "k", buckets=buckets)
    # results still exact: one match row per hot fact row
    assert joined.count() == 10000


def test_salted_count_key_only_frame_correct(spark):
    # duplicate-heavy key-only frame: counts must stay exact AND the
    # hot key must not serialize into a single (key, salt) group
    df = spark.range(9000).select(
        F.when(F.col("id") < 8000, F.lit(1)).otherwise(F.pmod("id", F.lit(5))).alias("k")
    )
    plain = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    salted = {r["k"]: r["count"] for r in skew.salted_count(df, "k", buckets=8).collect()}
    assert plain == salted


def test_salted_topk_equals_window_topk(spark):
    """Two-phase salted top-k must equal the plain row_number window —
    including a hot key holding most rows, duplicate order values
    (tiebreak decides), and a key with fewer than k rows."""
    from pyspark.sql import Window

    rows = [(1, float((i * 37) % 100), i, i % 7) for i in range(5000)]  # hot key
    rows += [(2, float(i % 3), 10_000 + i, 0) for i in range(20)]  # heavy ties
    rows += [(3, 5.0, 20_000, 1), (3, 9.0, 20_001, 2)]  # fewer than k
    df = spark.createDataFrame(rows, "k long, v double, tb long, p long")
    got = sorted(
        map(
            tuple,
            skew.salted_topk(
                df, "k", "v", "tb", k=5, payload=["p"], buckets=8
            ).collect(),
        )
    )
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("tb").asc())
    want = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("k", "v", "tb", "p")
            .collect(),
        )
    )
    assert got == want


def test_salted_collect_set(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 1), ("b", 3)], "k string, v long"
    )
    got = {r["k"]: sorted(r["values"]) for r in skew.salted_collect_set(df, "k", "v", buckets=4).collect()}
    assert got == {"a": [1, 2], "b": [3]}


def test_fm_distinct_tracks_true_cardinality(spark):
    from graph_importer_spark.operators.sketches import fm_distinct

    rows = [(i % 3, i % 500 if i % 3 else i % 40) for i in range(3000)]
    df = spark.createDataFrame(rows, "grp long, key long")
    got = {r["grp"]: r["approx_distinct"] for r in fm_distinct(df, ["grp"], "key").collect()}
    true = {r["grp"]: r["n"] for r in df.groupBy("grp").agg(F.countDistinct("key").alias("n")).collect()}
    for g, n in true.items():
        assert 0.4 * n <= got[g] <= 2.5 * n  # FM band at r=16


def test_fm_distinct_at_ten_million_keys(spark):
    """The design-point regression: a single mod-M (~2^20) hash round
    caps the trailing-zero index near 19, saturating the registers
    around ~1.3M distinct keys.  The chained 40-bit hash must keep
    tracking at >= 10^7 distinct keys within the FM error band."""
    from graph_importer_spark.operators.sketches import fm_distinct

    n = 10_000_000
    df = spark.range(n).select(F.lit(0).alias("grp"), F.col("id").alias("key"))
    got = fm_distinct(df, ["grp"], "key", registers=16).collect()[0]["approx_distinct"]
    assert 0.5 * n <= got <= 2.0 * n, got


def test_fm_distinct_negative_keys_not_collapsed(spark):
    """Sign regression: with a sign-preserving %, every negative key
    hashed to bit 0 (GREATEST(h,1)) and the whole negative range counted
    as ~1 distinct value.  pmod reduction must make a negative key set
    estimate like a positive one."""
    from graph_importer_spark.operators.sketches import fm_distinct

    neg = spark.range(5000).select(F.lit(0).alias("grp"), (-F.col("id") - 1).alias("key"))
    got = fm_distinct(neg, ["grp"], "key", registers=16).collect()[0]["approx_distinct"]
    assert 0.4 * 5000 <= got <= 2.5 * 5000, got


def test_fm_distinct_partition_invariant_and_mergeable(spark):
    from graph_importer_spark.operators.sketches import fm_distinct

    rows = [(0, i % 123) for i in range(1000)]
    df = spark.createDataFrame(rows, "grp long, key long")
    a = fm_distinct(df, ["grp"], "key").collect()[0]["approx_distinct"]
    b = fm_distinct(df.repartition(17), ["grp"], "key").collect()[0]["approx_distinct"]
    assert a == b  # bit_or is order/partition-invariant
    # duplicating every row must not move the estimate (idempotent sketch)
    c = fm_distinct(df.unionAll(df), ["grp"], "key").collect()[0]["approx_distinct"]
    assert a == c


def test_url_normalize_and_domain(spark):
    from graph_importer_spark.operators import urls

    rows = [
        (1, "HTTPS://User:pw@WWW.Example.CO.UK:443/Path/x?utm_source=a&id=7&fbclid=z#f"),
        (2, "http://blog.site42.com:80/?utm_a=1&utm_b=2"),
        (3, "https://sub.a.co.jp/p?x=1&gclid=9&y=2"),
        (4, "https://nodomain/p"),
    ]
    df = spark.createDataFrame(rows, "i long, url string")
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            urls.normalize_url("url").alias("norm"),
            urls.host_of("url").alias("host"),
            urls.registered_domain(urls.host_of("url")).alias("dom"),
        ).collect()
    }
    # userinfo dropped, scheme+host folded, :443 stripped, params pruned,
    # path case preserved
    assert out[1]["norm"] == "https://www.example.co.uk/Path/x?id=7"
    assert out[1]["dom"] == "example.co.uk"  # multi-label public suffix
    assert out[2]["norm"] == "http://blog.site42.com/"
    assert out[2]["host"] == "blog.site42.com"
    assert out[3]["norm"] == "https://sub.a.co.jp/p?x=1&y=2"
    assert out[3]["dom"] == "a.co.jp"
    assert out[4]["dom"] == "nodomain"  # single-label host falls through


def test_semantic_dedup_finds_planted_clones(spark):
    from graph_importer_spark.operators import dedup

    # 40 well-separated random-ish vectors + exact-scaled clones of 10:
    # a scaled copy has cosine 1.0 with its source and must be clustered
    # with it (same nearest centroid: identical direction).
    import math

    base = [
        (i, [math.sin(i * 7.3 + d * 1.7) for d in range(16)])
        for i in range(40)
    ]
    clones = [(i + 1000, [x * 2.0 for x in v]) for i, v in base if i % 4 == 0]
    df = spark.createDataFrame(base + clones, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, threshold=0.999, n_centroids=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    for i, _ in base:
        if i % 4 == 0:
            assert rows[i + 1000]["keeper"] == i and rows[i + 1000]["is_dup"]
            assert rows[i]["keeper"] == i and not rows[i]["is_dup"]
    # nothing else got flagged
    assert len(rows) == 2 * len(clones)


def test_similarity_recall_function(spark):
    # hand-checkable frames: exact has 4 truth pairs, ann recovers 3
    exact = spark.createDataFrame(
        [(0, 10, 0.9, 1), (0, 11, 0.8, 2), (1, 12, 0.7, 1), (1, 13, 0.6, 2)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    ann = spark.createDataFrame(
        [(0, 10, 0.9, 1), (0, 99, 0.5, 2), (1, 12, 0.7, 1), (1, 13, 0.6, 2)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    assert similarity.similarity_recall(ann, exact) == 0.75
    # k-truncation: at k=1 both top-1s match
    assert similarity.similarity_recall(ann, exact, k=1) == 1.0
    empty = exact.filter("rank > 99")
    assert similarity.similarity_recall(ann, empty) == 1.0


def test_pair_recall_function(spark):
    truth = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "id1 long, id2 long"
    )
    found = spark.createDataFrame([(0, 1), (4, 5)], "id1 long, id2 long")
    assert abs(similarity.pair_recall(found, truth) - 2 / 3) < 1e-9


def test_measured_ann_and_semdedup_recall_floor(spark):
    """Pin the ANN/SemDeDup recall numbers the docstrings point to.

    Clustered corpus (the regime both indexes are built for): recall of
    the scale paths against their brute-force baselines must clear a
    floor.  The measured values are recorded in SCALE.md."""
    import random

    rnd = random.Random(23)
    rows = []
    for i in range(240):
        axis = i % 4
        v = [rnd.gauss(0, 0.05) for _ in range(8)]
        v[axis * 2] += 1.0
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 12)
    exact = similarity.cosine_topk(emb, q, k=5)
    ivf = similarity.ann_topk_ivf(emb, q, k=5, n_centroids=8, nprobe=4)
    assert similarity.similarity_recall(ivf, exact) >= 0.9
    lsh = similarity.ann_topk_lsh(emb, q, k=5, n_bits=4)
    assert similarity.similarity_recall(lsh, exact) >= 0.5
    # SemDeDup pair recall vs the brute-force near-dup baseline
    dup_truth = dedup.embedding_near_dup_pairs(emb, threshold=0.999)
    sem = dedup.semantic_dup_pairs(emb, threshold=0.999, n_centroids=4)
    assert similarity.pair_recall(sem, dup_truth) >= 0.9


def test_default_n_centroids_grows_with_corpus(spark):
    assert similarity.default_n_centroids(10) == 8
    assert similarity.default_n_centroids(10_000) == 100
    assert similarity.default_n_centroids(10**12) == 10**6
    # the None default actually takes the derived path end-to-end
    import math

    rows = [
        (i, [math.sin(i * 7.3 + d * 1.7) for d in range(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # the None default must behave exactly like an explicit C = f(count)
    implicit = sorted(
        map(tuple, dedup.semantic_dup_pairs(emb, threshold=0.999).collect())
    )
    explicit = sorted(
        map(
            tuple,
            dedup.semantic_dup_pairs(
                emb,
                threshold=0.999,
                n_centroids=similarity.default_n_centroids(len(rows)),
            ).collect(),
        )
    )
    assert implicit == explicit and len(implicit) > 0


def test_semantic_max_list_size_cap(spark):
    """One dense direction floods a single inverted list; the cap must
    drop that list from the pair join (and only that list)."""
    import math

    hot = [(i, [1.0 + 0.0001 * i, 0.0, 0.0, 0.0]) for i in range(30)]
    cold = [
        (100 + i, [math.sin(i + d * 2.1) for d in range(4)]) for i in range(6)
    ]
    emb = spark.createDataFrame(hot + cold, "vec_id long, embedding array<double>")
    capped = dedup.semantic_dup_pairs(
        emb, threshold=0.99, n_centroids=4, max_list_size=10
    )
    uncapped = dedup.semantic_dup_pairs(
        emb, threshold=0.99, n_centroids=4, max_list_size=None
    )
    # the hot list (30 near-identical vectors) exceeds the cap: its
    # O(list^2) pairs are gone; without the cap they dominate
    assert uncapped.count() >= 30 * 29 / 2
    capped_ids = {
        r["id1"] for r in capped.collect()
    } | {r["id2"] for r in capped.collect()}
    assert all(i >= 100 or i not in capped_ids for i in range(30))


def test_registered_domain_psl_longest_match(spark):
    from graph_importer_spark.operators import urls

    hosts = spark.createDataFrame(
        [
            ("a.b.example.co.uk",),   # multi-label suffix
            ("www.shop.com.sg",),     # outside the regex subset
            ("x.y.sub.k12.ma.us",),   # 4-label public suffix
            ("plain.example.com",),
            ("edge.internal",),       # unlisted TLD -> '*' fallback
            ("localhost",),           # single label -> itself
        ],
        "host string",
    )
    psl = spark.createDataFrame(
        [("com",), ("uk",), ("co.uk",), ("sg",), ("com.sg",),
         ("us",), ("k12.ma.us",)],
        "suffix string",
    )
    out = {
        r["host"]: r["registered_domain"]
        for r in urls.registered_domain_psl(hosts, "host", psl).collect()
    }
    assert out["a.b.example.co.uk"] == "example.co.uk"
    assert out["www.shop.com.sg"] == "shop.com.sg"
    assert out["x.y.sub.k12.ma.us"] == "sub.k12.ma.us"
    assert out["plain.example.com"] == "example.com"
    assert out["edge.internal"] == "edge.internal"
    assert out["localhost"] == "localhost"


# ---------------------------------------------------------------------------
# Round 4: line dedup, duplicated spans, bloom, mixture, blocklist, packing
# ---------------------------------------------------------------------------


def test_duplicate_line_removal_first_occurrence_wins(spark):
    rows = [
        (10, ["alpha beta", "gamma delta", "alpha beta"]),  # self-dup line
        (20, ["alpha beta", "unique twenty"]),              # cross-doc dup
        (30, ["only here"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    out = {
        r["doc_id"]: r
        for r in dedup.duplicate_line_removal(df, "doc_id", "lines").collect()
    }
    # doc 10 keeps its FIRST "alpha beta" only (pos 0), drops pos 2
    assert out[10]["n_lines"] == 3 and out[10]["n_kept"] == 2
    assert out[10]["clean_text"] == "alpha beta\ngamma delta"
    # doc 20's "alpha beta" lost to doc 10 (global first occurrence)
    assert out[20]["n_kept"] == 1
    assert out[20]["clean_text"] == "unique twenty"
    assert out[30]["n_kept"] == 1 and out[30]["clean_text"] == "only here"


def test_duplicate_line_removal_partition_invariant(spark):
    rows = [(i, [f"shared line", f"own {i}"]) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    a = dedup.duplicate_line_removal(df, "doc_id", "lines")
    b = dedup.duplicate_line_removal(df.repartition(7), "doc_id", "lines")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    kept_shared = [r for r in a.collect() if "shared line" in r["clean_text"]]
    assert len(kept_shared) == 1 and kept_shared[0]["doc_id"] == 0


def test_duplicated_gram_stats(spark):
    rows = [
        (0, "one two three four five six"),
        (1, "one two three four five seven"),  # shares grams 1-2 with doc 0
        (2, "totally distinct words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.duplicated_gram_stats(df, "doc_id", "text", k=5).collect()}
    # doc 0: grams "one..five" (dup with doc1), "two..six" (unique)
    assert out[0]["n_grams"] == 2 and out[0]["n_dup_grams"] == 1
    assert out[0]["dup_frac"] == 0.5
    assert out[2]["n_dup_grams"] == 0


def test_bloom_no_false_negatives(spark):
    from graph_importer_spark.operators import sketches

    base = spark.range(0, 300).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k")
    )
    bloom = sketches.bloom_build(base, "k", m_bits=4096, k=4)
    probe = spark.range(0, 600).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k")
    )
    got = {r["k"]: r["maybe_present"] for r in sketches.bloom_probe(probe, "k", bloom, m_bits=4096, k=4).collect()}
    # every built key must probe present (no false negatives)
    assert all(got[f"key-{i}"] for i in range(300))
    # unseen keys are mostly absent (fp rate at n=300,m=4096,k=4 ~ 1.6%)
    fp = sum(got[f"key-{i}"] for i in range(300, 600))
    assert fp <= 20


def test_bloom_mergeable(spark):
    from graph_importer_spark.operators import sketches

    a = spark.createDataFrame([("x",), ("y",)], "k string")
    b = spark.createDataFrame([("z",)], "k string")
    merged = (
        sketches.bloom_build(a, "k").unionAll(sketches.bloom_build(b, "k"))
        .groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    )
    direct = sketches.bloom_build(a.unionAll(b), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_temperature_mixture_rates_and_sample(spark):
    from graph_importer_spark.operators import sampling

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {
        r["domain"]: r["rate"]
        for r in sampling.temperature_mixture_rates(df, "source", 0.5, 0.5).collect()
    }
    # sqrt weighting upsamples the rare domain relative to its share
    assert rates["small"] > rates["big"]
    assert 0.0 < rates["big"] <= 1.0 and rates["small"] <= 1.0
    kept = sampling.temperature_mixture_sample(df, "source", "doc_id", 0.5, 0.5)
    kept2 = sampling.temperature_mixture_sample(
        df.repartition(13), "source", "doc_id", 0.5, 0.5
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in kept2.collect()
    )
    # realized total tracks the 50% target loosely (deterministic coin)
    n = kept.count()
    assert 350 <= n <= 650


def test_blocklist_filter_matches_subdomain(spark):
    from graph_importer_spark.operators import urls

    pages = spark.createDataFrame(
        [
            (1, "https://ads.example.com/banner"),
            (2, "https://www.fine.org/page"),
            (3, "http://example.com:80/x"),
        ],
        "id long, url string",
    )
    bl = spark.createDataFrame([("example.com", "ads")], "domain string, category string")
    out = {r["id"]: r for r in urls.blocklist_filter(pages, "url", bl).collect()}
    assert out[1]["blocked"] and out[1]["block_category"] == "ads"
    assert out[3]["blocked"]  # apex domain matches too
    assert not out[2]["blocked"] and out[2]["block_category"] is None


def test_pack_next_fit_semantics(spark):
    from graph_importer_spark.operators import packing

    rows = [(i, t) for i, t in enumerate([100, 100, 100, 50, 300, 10])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = packing.pack_next_fit(df, "doc_id", "n_tokens", capacity=256, shards=1)
    got = sorted(map(tuple, out.collect()))
    # next-fit in id order: [100,100]=pack0, [100,50]=pack1, [300->256]=pack2, [10]=pack3?
    # walk: 100(u=100), 100(u=200), 100 overflows -> pack1 (u=100), 50 (u=150),
    # 300 capped 256 overflows -> pack2 (u=256), 10 overflows -> pack3
    by_doc = {r[0]: (r[3], r[4]) for r in got}
    assert by_doc[0] == (0, 0) and by_doc[1] == (0, 100)
    assert by_doc[2] == (1, 0) and by_doc[3] == (1, 100)
    assert by_doc[4] == (2, 0) and by_doc[5] == (3, 0)


def test_pack_next_fit_capacity_and_determinism(spark):
    from graph_importer_spark.operators import packing

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_tokens")
    )
    a = packing.pack_next_fit(df, "doc_id", "n_tokens", capacity=256, shards=8)
    b = packing.pack_next_fit(df.repartition(11), "doc_id", "n_tokens", capacity=256, shards=8)
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb
    # no pack exceeds capacity
    per_pack = (
        a.groupBy("pack_id").agg(F.sum(F.least("n_tokens", F.lit(256))).alias("tok"))
        .collect()
    )
    assert all(r["tok"] <= 256 for r in per_pack)


def test_chunk_text_stride_and_overlap(spark):
    from graph_importer_spark.operators.packing import chunk_text

    text = " ".join(f"t{i}" for i in range(57))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")], ["doc_id", "text"])
    out = chunk_text(df, "doc_id", "text", chunk_tokens=32, overlap=8)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk"])
        for r in out.collect()
    )
    d1 = [r for r in rows if r[0] == 1]
    # 57 tokens, stride 24 -> chunks at 0, 24, 48: 32 + 32 + 9 tokens
    assert [(r[1], r[2]) for r in d1] == [(0, 32), (1, 32), (2, 9)]
    # consecutive chunks share exactly `overlap` tokens
    c0, c1 = d1[0][3].split(" "), d1[1][3].split(" ")
    assert c0[-8:] == c1[:8]
    # every token appears somewhere, surface round-trips
    assert c0[0] == "t0" and d1[2][3].split(" ")[-1] == "t56"
    # short doc -> one chunk; empty doc -> none
    assert [(r[1], r[2], r[3]) for r in rows if r[0] == 2] == [(0, 2, "a b")]
    assert not [r for r in rows if r[0] == 3]


def test_chunk_text_validates_params(spark):
    import pytest as _pt

    from graph_importer_spark.operators.packing import chunk_text

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pt.raises(ValueError):
        chunk_text(df, "doc_id", "text", chunk_tokens=8, overlap=8)
    with _pt.raises(ValueError):
        chunk_text(df, "doc_id", "text", chunk_tokens=0)


def test_lsh_index_probe_finds_clones_without_corpus_rescan(spark):
    from graph_importer_spark.operators.dedup import (
        lsh_band_index,
        lsh_candidate_pairs,
        lsh_probe,
    )

    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(i, base + f" tail{i}") if i % 2 else (i, f"unique doc {i} " * 5)
         for i in range(10)],
        ["doc_id", "text"],
    )
    index = lsh_band_index(corpus, "doc_id", "text", k=3, n_hashes=8, bands=4)
    assert set(index.columns) == {"doc_id", "band", "bkey", "bucket_n"}
    # batch: exact clone of doc 1 plus an unrelated doc
    batch = spark.createDataFrame(
        [(101, base + " tail1"), (102, "nothing like the corpus here ok")],
        ["doc_id", "text"],
    )
    hits = lsh_probe(batch, index, "doc_id", "text", k=3, n_hashes=8, bands=4)
    got = {(r["new_id"], r["corpus_id"]) for r in hits.collect()}
    assert (101, 1) in got
    assert not any(n == 102 for n, _ in got)
    # probe parity with the batch-mode pairer: a clone found by probe
    # is found by lsh_candidate_pairs on the union too
    union = corpus.unionByName(batch)
    pairs = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(
            union, "doc_id", "text", k=3, n_hashes=8, bands=4
        ).collect()
    }
    assert (1, 101) in pairs


def test_lsh_probe_respects_bucket_guard(spark):
    from graph_importer_spark.operators.dedup import lsh_band_index, lsh_probe

    boiler = "same boilerplate text everywhere on this site"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(20)], ["doc_id", "text"]
    )
    index = lsh_band_index(corpus, "doc_id", "text", k=3, n_hashes=8, bands=4)
    batch = spark.createDataFrame([(900, boiler)], ["doc_id", "text"])
    # bucket_n = 20 > max_bucket=10 -> degenerate bucket skipped
    guarded = lsh_probe(
        batch, index, "doc_id", "text", k=3, n_hashes=8, bands=4, max_bucket=10
    )
    assert guarded.count() == 0
    open_probe = lsh_probe(
        batch, index, "doc_id", "text", k=3, n_hashes=8, bands=4, max_bucket=100
    )
    assert open_probe.count() == 20


def test_chunk_text_and_extract_meta_plans_are_narrow(spark):
    """The zero-shuffle claims in SURVEY 2.11 stay plan-asserted."""
    from graph_importer_spark.operators.packing import chunk_text
    from graph_importer_spark.operators.urls import extract_meta

    df = spark.createDataFrame(
        [(1, "some words here", b"<html><title>t</title></html>", "u")],
        ["doc_id", "text", "html", "url"],
    )
    p1 = chunk_text(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p1
    p2 = extract_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p2 and "BatchEvalPython" not in p2
