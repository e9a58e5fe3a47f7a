"""Round-4 session-18 operators: cohort retention, RFM segmentation,
lexicon content filter, embedding whitening."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.quantize import whiten
from graph_importer_spark.operators.textstats import lexicon_hits
from graph_importer_spark.operators.timeseries import cohort_retention, rfm_scores


def _ts(day):
    return dt.datetime(2024, 1, day, 12, 0, 0)


def test_cohort_retention_known_matrix(spark):
    # period = 1 day.  u1: days 1,2,3; u2: days 1,3; u3: day 2.
    rows = [(1, _ts(1)), (1, _ts(2)), (1, _ts(3)), (1, _ts(3)),
            (2, _ts(1)), (2, _ts(3)), (3, _ts(2))]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.cohort, r.offset): (r.n_active, r.cohort_size, r.retention)
        for r in cohort_retention(e, "user_id", "ts", period_seconds=86400).collect()
    }
    d1 = min(c for c, _ in out)  # cohort id of day 1
    assert out[(d1, 0)] == (2, 2, 1.0)          # u1, u2
    assert out[(d1, 1)] == (1, 2, 0.5)          # u1 only
    assert out[(d1, 2)] == (2, 2, 1.0)          # u1, u2
    assert out[(d1 + 1, 0)] == (1, 1, 1.0)      # u3's own cohort
    assert len(out) == 4
    # duplicate same-period events never double-count a user
    assert all(n <= s for n, s, _ in out.values())


def test_cohort_retention_partition_invariant(spark):
    rows = [(i % 7, _ts(1 + (i * 3) % 20)) for i in range(200)]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    a = sorted(map(tuple, cohort_retention(e, "user_id", "ts").collect()))
    b = sorted(
        map(tuple, cohort_retention(e.repartition(13), "user_id", "ts").collect())
    )
    assert a == b


def test_rfm_scores_quartiles_and_packing(spark):
    # 8 customers, frequency 1 each, monetary 10..80, recency 0..7 days
    rows = []
    for i in range(8):
        rows.append((i, dt.datetime(2024, 1, 31 - i), float((i + 1) * 10)))
    o = spark.createDataFrame(rows, "c long, d timestamp, amt double")
    out = {r.key: r for r in rfm_scores(o, "c", "d", "amt").collect()}
    # customer 0: most recent (recency 0 -> r=4), lowest monetary (m=1)
    assert out[0].recency_days == 0 and out[0].r_score == 4
    assert out[0].m_score == 1 and out[0].frequency == 1
    # customer 7: oldest, highest monetary
    assert out[7].recency_days == 7 and out[7].r_score == 1
    assert out[7].m_score == 4
    # all frequencies equal -> every f_score = 1 (nothing exceeds cutoffs)
    assert {r.f_score for r in out.values()} == {1}
    # rfm digit packing
    assert out[0].rfm == out[0].r_score * 100 + out[0].f_score * 10 + out[0].m_score


def test_rfm_explicit_reference_instant(spark):
    o = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 5.0)], "c long, d timestamp, amt double"
    )
    ref = int(dt.datetime(2024, 1, 11).timestamp())
    row = rfm_scores(o, "c", "d", "amt", ref_epoch_seconds=ref).collect()[0]
    assert row.recency_days == 10


def test_lexicon_hits_counts_and_flag(spark):
    d = spark.createDataFrame(
        [
            (1, "the crash caused a crash and a leak"),
            (2, "all calm here"),
            (3, "   "),
            (4, "CRASH uppercase and scrash substring"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in lexicon_hits(
            d, "doc_id", "text", ["crash", "leak"], rate_threshold=100.0
        ).collect()
    }
    assert out[1].n_hits == 3 and out[1].n_distinct_hits == 2
    assert out[1].flagged  # 3/8 tokens = 375 per 1000 > 100
    assert out[2].n_hits == 0 and not out[2].flagged
    assert out[3].n_tokens == 0 and out[3].hit_rate_per_1000 == 0.0
    # case-insensitive token match; substrings never count
    assert out[4].n_hits == 1


def test_whiten_centers_and_normalizes(spark):
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0]), (3, [2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in whiten(e, "vec_id", "embedding").collect()}
    # mean = (2, 0); vec 3 IS the mean -> zero vector out, norm_after 0
    assert out[3].norm_after == 0.0 and out[3].centered == [0.0, 0.0]
    # vec 1 centers to (-1, 0) -> unit (-1, 0)
    assert out[1].centered == [-1.0, 0.0]
    assert out[2].centered == [1.0, 0.0]
    assert out[1].norm_before == pytest.approx(1.0)
    # unit norm after whitening
    for vid in (1, 2):
        assert sum(x * x for x in out[vid].centered) == pytest.approx(1.0, abs=1e-9)


def test_whiten_partition_invariant(spark):
    rows = [(i, [float((i * 7) % 13), float((i * 5) % 11), 1.0]) for i in range(50)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, whiten(e).collect()))
    b = sorted(map(tuple, whiten(e.repartition(17)).collect()))
    assert a == b


def test_linear_attribution_splits_credit(spark):
    from graph_importer_spark.operators.timeseries import linear_attribution

    conv = spark.createDataFrame(
        [(1, _ts(2), 100, 10.0), (2, _ts(2), 200, 6.0), (3, _ts(2), 300, 4.0)],
        "user_id long, ts timestamp, conv_id long, value double",
    )
    tch = spark.createDataFrame(
        [
            (1, _ts(1), "click"),   # in window (1 day back)
            (1, _ts(2), "view"),    # at conversion instant
            (2, dt.datetime(2024, 1, 2, 11, 0), "click"),
            # user 3 has no touch -> (direct)
            (1, dt.datetime(2023, 12, 1), "click"),  # far outside window
        ],
        "user_id long, ts timestamp, channel string",
    )
    out = {
        r.channel: r
        for r in linear_attribution(
            tch, conv, "user_id", "channel", window_s=86400, value_col="value"
        ).collect()
    }
    # user1: 10.0 split over click+view; user2: 6.0 all to click
    assert out["click"].attributed == pytest.approx(5.0 + 6.0)
    assert out["view"].attributed == pytest.approx(5.0)
    assert out["(direct)"].attributed == pytest.approx(4.0)
    assert out["(direct)"].n_conversions == 1 and out["(direct)"].n_touches == 0
    # conservation: total attributed == total conversion value
    total = sum(r.attributed for r in out.values())
    assert total == pytest.approx(20.0)


def test_transe_rank_deterministic_and_bounded(spark):
    from pyspark.sql import Window as W

    from graph_importer_spark.triples import transe_rank

    t = spark.createDataFrame(
        [(f"s{i % 5}", "p", f"o{i % 11}") for i in range(40)],
        "subj string, pred string, obj string",
    )
    ranks = (
        t.select(F.col("obj").alias("_ent"))
        .distinct()
        .select("_ent", (F.row_number().over(W.orderBy("_ent")) - 1).alias("_rank"))
    )
    out = transe_rank(t, entity_ranks=ranks, dim=4, n_candidates=8).collect()
    assert len(out) == t.distinct().count()
    for r in out:
        assert 1 <= r.rank <= r.n_cands + 1
        assert r.n_cands <= 8
        assert r.rr == pytest.approx(1.0 / r.rank, abs=1e-6)
        assert r.hit10 == (r.rank <= 10)
    # partition-invariance
    out2 = transe_rank(
        t.repartition(7), entity_ranks=ranks, dim=4, n_candidates=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_stem_token_rules(spark):
    from graph_importer_spark.operators.textstats import stem_token

    pairs = {
        "caresses": "caress",
        "ponies": "poni",
        "caress": "caress",
        "cats": "cat",
        "its": "its",          # len 3, 's' kept
        "running": "runn",
        "agreed": "agre",
        "sing": "sing",        # stem 's' has no vowel -> kept
        "quickly": "quick",
        "fly": "fly",          # too short for -ly
        "tables": "table",
    }
    df = spark.createDataFrame([(w,) for w in pairs], "tok string")
    got = {r.tok: r.stem for r in df.select("tok", stem_token(F.col("tok")).alias("stem")).collect()}
    assert got == pairs


def test_stem_vocab_groups_forms(spark):
    from graph_importer_spark.operators.textstats import stem_vocab

    d = spark.createDataFrame(
        [(1, "cat cats running runs run 42 x-y"), (2, "cat quickly quick")],
        "doc_id long, text string",
    )
    out = {r.stem: r for r in stem_vocab(d, "doc_id", "text", top=10).collect()}
    assert out["cat"].n_occurrences == 3 and out["cat"].n_docs == 2
    assert out["cat"].n_forms == 2 and out["cat"].forms == ["cat", "cats"]
    assert out["quick"].n_forms == 2
    # non-alphabetic tokens dropped
    assert "42" not in out and "x-y" not in out


def test_crawl_frontier_politeness(spark):
    from graph_importer_spark.operators.urls import crawl_frontier

    rows = [(f"https://h{i % 3}.com/p/{i}", 100 - i) for i in range(12)]
    d = spark.createDataFrame(rows, "url string, priority long")
    out = crawl_frontier(d, "url", "priority", max_per_host=3).collect()
    # cap: at most 3 per host
    from collections import Counter

    per_host = Counter(r.host for r in out)
    assert all(v <= 3 for v in per_host.values())
    # politeness: one url per (host, wave)
    assert len({(r.host, r.wave) for r in out}) == len(out)
    # priority order within host: wave 0 has the highest priority
    for h in per_host:
        ws = sorted((r.wave, r.priority) for r in out if r.host == h)
        assert [p for _, p in ws] == sorted((p for _, p in ws), reverse=True)
    # slot is a pure function of (host, wave)
    out2 = crawl_frontier(d.repartition(5), "url", "priority", max_per_host=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_simrank_square_graph(spark):
    from graph_importer_spark.operators.analytics import simrank_pairs

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    out = {(r.a, r.b): r for r in simrank_pairs(e, c=0.8, min_common=1).collect()}
    # 4-cycle: N(1)=N(4)={2,3}, N(2)=N(3)={1,4}
    assert out[(1, 4)].common == 2 and out[(1, 4)].s1 == pytest.approx(0.4)
    assert out[(2, 3)].s1 == pytest.approx(0.4)
    # s2(1,4) = 0.2 * (2 + s1(2,3) + s1(3,2)) = 0.2 * 2.8 = 0.56
    assert out[(1, 4)].s2 == pytest.approx(0.56)
    assert out[(2, 3)].s2 == pytest.approx(0.56)


def test_simrank_degree_cap_is_deterministic(spark):
    from graph_importer_spark.operators.analytics import simrank_pairs

    rows = [(0, i) for i in range(1, 9)] + [(9, i) for i in range(1, 9)]
    e = spark.createDataFrame(rows, "src long, dst long")
    a = sorted(map(tuple, simrank_pairs(e, max_degree=3).collect()))
    b = sorted(
        map(tuple, simrank_pairs(e.repartition(7), max_degree=3).collect())
    )
    assert a == b and len(a) > 0


def test_harmonic_path_graph(spark):
    from graph_importer_spark.operators.analytics import (
        harmonic_centrality_sampled,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out = {
        r.id: r
        for r in harmonic_centrality_sampled(
            e, n_sources=4, max_hops=3
        ).collect()
    }
    # all 4 vertices are sources; path 1-2-3-4
    assert out[2].harmonic == pytest.approx(1 + 1 + 0.5)   # from 1,3,4
    assert out[1].harmonic == pytest.approx(1 + 0.5 + 1 / 3, abs=1e-6)
    assert out[1].n_reached == 3


def test_tokenizer_fertility_totals(spark):
    from graph_importer_spark.operators.textstats import tokenizer_fertility

    d = spark.createDataFrame(
        [("en", "ab cd"), ("en", "x,y"), ("de", ""), ("de", None)],
        "source string, text string",
    )
    out = {r.grp: r for r in tokenizer_fertility(d, "source", "text").collect()}
    # 'ab cd' -> 2 ws tokens, 2 bpe; 'x,y' -> 1 ws token, 3 bpe (x , y)
    assert out["en"].n_ws_tokens == 3 and out["en"].n_bpe_tokens == 5
    assert out["en"].n_chars == 8 and out["en"].n_docs == 2
    assert out["en"].fertility == pytest.approx(5 / 3, abs=1e-6)
    assert out["de"].n_ws_tokens == 0 and out["de"].fertility is None


def test_transductive_split_demotes_unseen_entities(spark):
    from graph_importer_spark.triples import transductive_split

    t = spark.createDataFrame(
        [(f"s{i % 37}", "p", f"o{i % 23}") for i in range(400)]
        + [("lonely_subj", "p", "lonely_obj")],
        "subj string, pred string, obj string",
    )
    out = transductive_split(t).collect()
    assert len(out) == t.distinct().count()
    # the lonely triple's entities appear nowhere else: whatever its
    # coin said, it must end up train (demotion or coin)
    lonely = [r for r in out if r.subj == "lonely_subj"][0]
    assert lonely.split == "train"
    splits = {r.split for r in out}
    assert splits == {"train", "valid", "test"}
    train_ents = {r.subj for r in out if r.split == "train"} | {
        r.obj for r in out if r.split == "train"
    }
    # transductive invariant: every eval entity is trainable
    for r in out:
        if r.split != "train":
            assert r.subj in train_ents and r.obj in train_ents
    # partition invariance
    out2 = transductive_split(t.repartition(11)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_luby_mis_is_maximal_independent(spark):
    from graph_importer_spark.operators.analytics import luby_mis

    rows = [(i, (i + 1) % 20) for i in range(20)] + [(i, (i + 5) % 20) for i in range(20)]
    e = spark.createDataFrame(rows, "src long, dst long")
    out = luby_mis(e, max_rounds=8).collect()
    status = {r.id: r.status for r in out}
    mis = {i for i, s in status.items() if s == "in_mis"}
    assert mis and "undecided" not in set(status.values())
    adj = {}
    for a, b in rows:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    # independence
    for v in mis:
        assert not (adj[v] & mis)
    # maximality: every non-MIS vertex has a MIS neighbor
    for v in set(adj) - mis:
        assert adj[v] & mis
    # determinism under repartition
    out2 = luby_mis(e.repartition(9), max_rounds=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_fs_em_step_matches_hand_em(spark):
    from graph_importer_spark.operators.linkage import fs_em_step

    rows = [(True, True), (True, False), (False, False), (False, False)]
    pairs = spark.createDataFrame(rows, "a1 boolean, a2 boolean")
    m = {"a1": 0.9, "a2": 0.8}
    u = {"a1": 0.2, "a2": 0.1}
    p = 0.3
    out = {r.field: r for r in fs_em_step(pairs, ["a1", "a2"], m, u, p).collect()}

    # hand EM over the 4 rows
    import itertools

    def lik(a1, a2, mm, uu):
        wm = p
        wu = 1 - p
        for c, v in (("a1", a1), ("a2", a2)):
            wm *= mm[c] if v else 1 - mm[c]
            wu *= uu[c] if v else 1 - uu[c]
        return wm / (wm + wu)

    gs = [round(lik(a1, a2, m, u), 9) for a1, a2 in rows]
    sg = sum(gs)
    su = sum(1 - g for g in gs)
    for c, idx in (("a1", 0), ("a2", 1)):
        mn = sum(g for g, r in zip(gs, rows) if r[idx]) / sg
        un = sum(1 - g for g, r in zip(gs, rows) if r[idx]) / su
        assert out[c].m_new == pytest.approx(mn, abs=1e-6)
        assert out[c].u_new == pytest.approx(un, abs=1e-6)
    assert out["__prior__"].m_new == pytest.approx(sg / 4, abs=1e-6)


def test_double_sweep_on_path_graph(spark):
    from graph_importer_spark.operators.analytics import double_sweep_diameter

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    r = double_sweep_diameter(e, max_hops=10).collect()[0]
    # a path of 7 vertices: double sweep finds the true diameter 6
    assert r.diameter_lb == 6
    assert r.n_reached_2 == 7
    assert r.far in (0, 6) or r.ecc1 <= 6


def test_calibration_bins_known_values(spark):
    from graph_importer_spark.operators.evalmetrics import calibration_bins

    rows = [(0.05, 0), (0.08, 0), (0.95, 1), (0.92, 0), (1.0, 1)]
    p = spark.createDataFrame(rows, "score double, label int")
    out = {r.bin: r for r in calibration_bins(p, n_bins=10).collect()}
    assert set(out) == {0, 9}
    assert out[0].n == 2 and out[0].frac_pos == 0.0
    assert out[0].avg_conf == pytest.approx(0.065)
    # score 1.0 clamps into bin 9
    assert out[9].n == 3
    assert out[9].frac_pos == pytest.approx(2 / 3, abs=1e-6)
    ece = sum(r.contrib for r in out.values())
    assert ece > 0


def test_regression_metrics_perfect_and_biased(spark):
    from graph_importer_spark.operators.evalmetrics import regression_metrics

    perfect = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (5.0, 5.0)], "pred double, actual double"
    )
    r = regression_metrics(perfect).collect()[0]
    assert r.rmse == 0.0 and r.mae == 0.0 and r.bias == 0.0 and r.r2 == 1.0
    biased = spark.createDataFrame(
        [(2.0, 1.0), (3.0, 2.0), (6.0, 5.0)], "pred double, actual double"
    )
    r2 = regression_metrics(biased).collect()[0]
    assert r2.rmse == pytest.approx(1.0) and r2.bias == pytest.approx(1.0)
    const = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 3.0)], "pred double, actual double"
    )
    r3 = regression_metrics(const).collect()[0]
    assert r3.r2 is None  # zero variance -> NULL, not a fake 0


def test_soundex_classic_values(spark):
    from graph_importer_spark.operators.blocking import soundex_key

    pairs = {
        "Robert": "R163",
        "Rupert": "R163",
        "Tymczak": "T522",
        "Pfister": "P236",
        "Smith": "S530",
        "Smyth": "S530",
        "Jackson": "J250",
        "": None,
        "123": None,
        "Lee": "L000",
    }
    df = spark.createDataFrame([(n,) for n in pairs], "name string")
    got = {r.name: r.sdx for r in df.select("name", soundex_key("name").alias("sdx")).collect()}
    assert got == pairs


def test_alt_chain_exposes_predicates(spark):
    from graph_importer_spark.triples import alt_chain_pattern

    t = spark.createDataFrame(
        [
            ("a", "p1", "b"), ("a", "p1x", "b2"), ("a", "zz", "b3"),
            ("b", "q1", "c"), ("b2", "q2", "c2"),
        ],
        "subj string, pred string, obj string",
    )
    out = {
        (r.v0, r.p1, r.v1, r.p2, r.v2)
        for r in alt_chain_pattern(t, [["p1", "p1x"], ["q1", "q2"]]).collect()
    }
    assert out == {
        ("a", "p1", "b", "q1", "c"),
        ("a", "p1x", "b2", "q2", "c2"),
    }


def test_multiprobe_recall_superset_of_single_bucket(spark):
    from graph_importer_spark.operators.similarity import (
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    single = ann_topk_lsh(emb, q, k=5, n_bits=8)
    multi = ann_topk_lsh_multiprobe(emb, q, k=5, n_bits=8, n_probes=4)
    # multiprobe's candidate pool is a superset: for every query its
    # worst returned cosine is >= the single-bucket run's
    s = {r.query_id: r for r in single.groupBy("query_id").agg(
        F.min("cosine").alias("mn"), F.count("*").alias("n")).collect()}
    m = {r.query_id: r for r in multi.groupBy("query_id").agg(
        F.min("cosine").alias("mn"), F.count("*").alias("n")).collect()}
    for qid, row in s.items():
        assert m[qid].n >= row.n
        if m[qid].n == row.n == 5:
            assert m[qid].mn >= row.mn


def test_cdc_chunks_shift_robust(spark):
    from graph_importer_spark.operators.dedup import cdc_chunks

    import random

    rng = random.Random(5)
    txt = "".join(rng.choice("abcdefghij ") for _ in range(1500))
    d = spark.createDataFrame(
        [(1, txt), (2, txt[:200] + "INSERT" + txt[200:])],
        "doc_id long, text string",
    )
    out = cdc_chunks(d, "doc_id", "text", mask_bits=5).collect()
    c1 = [r for r in out if r.id == 1]
    c2 = [r for r in out if r.id == 2]
    # chunk lengths tile the document exactly
    assert sum(r.chunk_len for r in c1) == len(" ".join(txt.split()))
    # content-defined: most chunks survive an insertion
    shared = {r.chunk_md5 for r in c1} & {r.chunk_md5 for r in c2}
    assert len(shared) >= len(c1) - 3
    # partition invariance
    out2 = cdc_chunks(d.repartition(3), "doc_id", "text", mask_bits=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_cdc_chunks_doc_shorter_than_window(spark):
    """Docs shorter than the rolling window are one whole chunk.

    Regression (ADVICE r04): sequence(window, length) is DESCENDING
    when length < window, so out-of-range positions were hashed over
    partial windows and ~1/2^mask_bits of them became spurious cut
    positions past the end of the doc — unsorted ends, negative
    chunk_len, garbage chunk_md5.
    """
    from graph_importer_spark.operators.dedup import cdc_chunks

    rows = [(i, "x" * n) for i, n in enumerate(range(1, 16))]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = cdc_chunks(d, "doc_id", "text", mask_bits=2, window=16).collect()
    # every short doc -> exactly one chunk spanning the whole doc
    assert len(out) == len(rows)
    for r in out:
        assert r.chunk_idx == 0 and r.start == 1
        assert r.chunk_len == len(rows[r.id][1])
        assert r.chunk_len > 0
    # boundary case: length == window still chunks normally
    d2 = spark.createDataFrame([(99, "y" * 16)], "doc_id long, text string")
    o2 = cdc_chunks(d2, "doc_id", "text", mask_bits=2, window=16).collect()
    assert sum(r.chunk_len for r in o2) == 16
    assert all(r.chunk_len > 0 for r in o2)


def test_quarantine_accounts_for_every_line(spark):
    from graph_importer_spark.importer.graphalytics import (
        parse_edges_quarantine,
    )

    lines = spark.createDataFrame(
        [
            ("1 2 0.5",), ("3 4",), ("# comment",), ("",), ("5",),
            ("a b",), ("6 b",), ("% other comment",),
        ],
        "line string",
    )
    out = parse_edges_quarantine(lines, "v").collect()
    assert len(out) == 8
    by = {r.line: r for r in out}
    assert by["1 2 0.5"].status == "ok" and by["1 2 0.5"].weight == "0.5"
    assert by["3 4"].status == "ok" and by["3 4"].weight is None
    assert by["3 4"]._from == "v/3:3" and by["3 4"]._to == "v/4:4"
    assert by["# comment"].status == "comment"
    assert by[""].status == "quarantined" and by[""].reason == "blank"
    assert by["5"].reason == "too_few_tokens"
    assert by["a b"].reason == "bad_id" and by["6 b"].reason == "bad_id"
    # quarantined rows carry no edge columns
    assert by["a b"]._from is None and by["a b"].weight is None


def test_cohort_ltv_cumulative(spark):
    from graph_importer_spark.operators.timeseries import cohort_ltv

    rows = [
        (1, _ts(1), 10.0), (1, _ts(2), 20.0),   # periods 0, 1
        (2, _ts(1), 5.0),
    ]
    o = spark.createDataFrame(rows, "c long, d timestamp, amt double")
    out = {
        (r.cohort, r.offset): r
        for r in cohort_ltv(o, "c", "d", "amt", period_seconds=86400).collect()
    }
    c0 = min(c for c, _ in out)
    assert out[(c0, 0)].period_spend == 15.0
    assert out[(c0, 0)].cohort_size == 2
    assert out[(c0, 0)].ltv == pytest.approx(7.5)
    assert out[(c0, 1)].cum_spend == 35.0
    assert out[(c0, 1)].ltv == pytest.approx(17.5)


def test_dedup_savings_exact_bytes(spark):
    from graph_importer_spark.operators.dedup import dedup_savings

    d = spark.createDataFrame(
        [(1, "hello world"), (2, "hello  world"), (3, "unique"), (4, "hello world")],
        "doc_id long, text string",
    )
    # docs 1, 2, 4 share the normal form (whitespace collapse)
    out = {r.group_size: r for r in dedup_savings(d, "doc_id", "text").collect()}
    assert out[3].n_groups == 1 and out[3].n_docs == 3
    # bytes: 11 + 12 + 11 = 34 total, keep the smallest (11) -> 23 saved
    assert out[3].bytes_total == 34 and out[3].bytes_saved == 23
    assert out[1].n_groups == 1 and out[1].bytes_saved == 0


def test_postings_delta_varint_math(spark):
    from graph_importer_spark.operators.retrieval import postings_delta

    d = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha"), (200, "alpha beta"), (40000, "alpha")],
        "doc_id long, text string",
    )
    out = {r.term: r for r in postings_delta(d, "doc_id", "text", min_df=2).collect()}
    a = out["alpha"]
    # gaps: 1, 1, 198, 39800 -> varint bytes 1 + 1 + 2 + 3 = 7
    assert a.df == 4 and a.raw_bytes == 32 and a.varint_bytes == 7
    b = out["beta"]
    # gaps: 1, 199 -> 1 + 2 = 3
    assert b.varint_bytes == 3
    assert b.ratio == pytest.approx(3 / 16, abs=1e-6)


def test_postings_delta_64bit_id_space(spark):
    """The first list entry encodes the ABSOLUTE doc id (gap from 0):
    64-bit id spaces cost up to 10 varint bytes, not the 5-byte cap of
    the old 2^28 ladder (ADVICE r04)."""
    from graph_importer_spark.operators.retrieval import postings_delta

    big = 1 << 62  # gap from 0 needs ceil(63/7) = 9 varint bytes
    top = (1 << 63) - 1  # the largest bigint still fits in 9 bytes
    d = spark.createDataFrame(
        [(big, "omega"), (big + 5, "omega"), (0, "sigma"), (top, "sigma")],
        "doc_id long, text string",
    )
    out = {r.term: r for r in postings_delta(d, "doc_id", "text").collect()}
    # gaps: 2^62 (9 bytes), 5 (1 byte)
    assert out["omega"].varint_bytes == 10
    # gaps: 0 (1 byte), 2^63-1 (9 bytes)
    assert out["sigma"].varint_bytes == 10


def test_extractive_summary_prefers_restated_unit(spark):
    from graph_importer_spark.operators.retrieval import extractive_summary

    # unit 0 shares tokens with units 1 and 2; unit 3 is disjoint
    text = " ".join(
        ["cat dog fox owl bat elk hen ram sow ewe"]      # unit 0
        + ["cat dog fox owl bat one two three four five"]  # unit 1
        + ["elk hen ram sow ewe six seven eight nine ten"]  # unit 2
        + ["zz yy xx ww vv uu tt ss rr qq"]               # unit 3
    )
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extractive_summary(d, "doc_id", "text", unit_tokens=10, top_k=2).collect()
    got = {(r.unit_idx, r.score) for r in out}
    # unit 0 overlaps 5 + 5 = 10; units 1 and 2 overlap 5 each
    assert (0, 10) in got
    assert all(r.unit_idx != 3 for r in out)
    # ties broken by position: second place is unit 1 (5), not unit 2
    assert (1, 5) in got


def test_churn_labels_point_in_time(spark):
    from graph_importer_spark.operators.timeseries import churn_labels

    cutoff = int(dt.datetime(2024, 1, 20).timestamp())
    rows = [
        (1, dt.datetime(2024, 1, 10), 2.0),   # active pre, silent post -> churned
        (2, dt.datetime(2024, 1, 15), 3.0),
        (2, dt.datetime(2024, 1, 22), 1.0),   # returns within horizon
        (3, dt.datetime(2024, 1, 25), 9.0),   # post-only -> excluded
        (4, dt.datetime(2024, 1, 1), 1.0),
        (4, dt.datetime(2024, 2, 5), 1.0),    # returns AFTER horizon -> churned
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        r.key: r
        for r in churn_labels(
            e, "user_id", "ts", cutoff, 10 * 86400, value_col="value"
        ).collect()
    }
    assert set(out) == {1, 2, 4}  # user 3 has no pre-cutoff features
    assert out[1].churned and not out[2].churned and out[4].churned
    assert out[1].days_since_last == 10
    assert out[2].total_value == 3.0  # post-cutoff value never leaks
    assert out[4].n_events == 1


def test_quotient_graph_counts(spark):
    from graph_importer_spark.operators.analytics import quotient_graph

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long"
    )
    assign = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)], "id long, community long"
    )
    out = {(r.ca, r.cb): r.n_edges for r in quotient_graph(e, assign).collect()}
    assert out[(10, 10)] == 1   # 1-2
    assert out[(20, 20)] == 1   # 3-4
    assert out[(10, 20)] == 3   # 2-3, 4-1, 1-3


def test_shortest_path_trace_on_path_graph(spark):
    from graph_importer_spark.operators.analytics import shortest_path_trace

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4)], "src long, dst long"
    )
    r = shortest_path_trace(e, 1, 4, max_hops=5).collect()[0]
    assert r.dist == 2
    # two shortest paths (1-3?-no; 1-2-3-4 is len 3; 1-5-4 len 2)
    assert r.path == [1, 5, 4]
    # unreachable -> empty frame
    e2 = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    assert shortest_path_trace(e2, 1, 4, max_hops=4).count() == 0


def test_cohen_kappa_bounds(spark):
    from graph_importer_spark.operators.evalmetrics import cohen_kappa

    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("x", "x")], "a string, b string"
    )
    r = cohen_kappa(perfect, "a", "b").collect()[0]
    assert r.kappa == 1.0 and r.po == 1.0
    constant = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string"
    )
    r2 = cohen_kappa(constant, "a", "b").collect()[0]
    assert r2.kappa is None  # pe = 1 -> undefined, not 1.0
    # independent raters -> kappa near 0 territory (just check range)
    mixed = spark.createDataFrame(
        [("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")], "a string, b string"
    )
    r3 = cohen_kappa(mixed, "a", "b").collect()[0]
    assert r3.po == 0.5 and r3.pe == 0.5 and r3.kappa == 0.0


def test_confusion_metrics_multiclass(spark):
    from graph_importer_spark.operators.evalmetrics import confusion_metrics

    rows = [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")]
    d = spark.createDataFrame(rows, "label string, pred string")
    out = {r.cls: r for r in confusion_metrics(d, "label", "pred").collect()}
    assert out["a"].tp == 1 and out["a"].fp == 1 and out["a"].fn == 1
    assert out["a"].precision == 0.5 and out["a"].recall == 0.5
    assert out["a"].f1 == 0.5
    assert out["b"].tp == 2 and out["b"].fp == 1 and out["b"].support == 2
    # class never predicted: precision NULL, recall 0, f1 NULL
    assert out["c"].precision is None and out["c"].recall == 0.0
    assert out["c"].f1 is None


def test_hard_negatives_excludes_relevant(spark):
    from graph_importer_spark.operators.retrieval import hard_negatives

    d = spark.createDataFrame(
        [(i, "spark window merge " * (10 - i % 5)) for i in range(20)],
        "doc_id long, text string",
    )
    rel = spark.createDataFrame([(0,), (1,), (2,)], "doc_id long")
    out = hard_negatives(
        d, "doc_id", "text", ["spark", "window"], rel, k=10, n_neg=4
    ).collect()
    ids = [r.doc_id for r in out]
    assert len(out) == 4
    assert not ({0, 1, 2} & set(ids))
    assert [r.neg_rank for r in out] == [1, 2, 3, 4]
    # neg_rank preserves the original rank order
    ranks = [r.rank for r in sorted(out, key=lambda r: r.neg_rank)]
    assert ranks == sorted(ranks)


def test_component_size_distribution(spark):
    from graph_importer_spark.operators.analytics import (
        component_size_distribution,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "id long, component long",
    )
    out = {r.size: r for r in component_size_distribution(labels).collect()}
    assert out[3].n_components == 1 and out[3].n_nodes == 3
    assert out[2].n_components == 1 and out[1].n_components == 1
    assert out[3].frac_nodes == pytest.approx(0.5)


def test_resolve_redirects_chains_and_cycles(spark):
    from graph_importer_spark.operators.analytics import resolve_redirects

    r = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "final"),
         ("x", "y"), ("y", "x"),
         ("q", "x")],  # feeds a cycle
        "src string, dst string",
    )
    out = {row.src: row for row in resolve_redirects(r, max_doubling=4).collect()}
    assert out["a"].target == "final" and not out["a"].is_cycle
    assert out["b"].target == "final" and out["c"].target == "final"
    assert out["x"].is_cycle and out["y"].is_cycle and out["q"].is_cycle
    # determinism under repartition
    out2 = resolve_redirects(r.repartition(5), max_doubling=4).collect()
    assert sorted(map(tuple, out.values())) == sorted(map(tuple, out2))


def test_pair_pr_counts(spark):
    from graph_importer_spark.operators.dedup import pair_pr

    found = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 6)], "id1 long, id2 long"
    )
    truth = spark.createDataFrame([(2, 1), (3, 4), (7, 8)], "a long, b long")
    r = pair_pr(found, truth).collect()[0]
    # found canonicalizes to 3 distinct pairs, 2 hits, truth 3
    assert r.n_found == 3 and r.n_truth == 3 and r.n_hit == 2
    assert r.precision == pytest.approx(2 / 3, abs=1e-6)
    assert r.recall == pytest.approx(2 / 3, abs=1e-6)


def test_cocitation_and_coupling(spark):
    from graph_importer_spark.operators.analytics import cocitation_coupling

    # docs 10, 11 both cite {1, 2}; doc 12 cites {2, 3}
    e = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (11, 2), (12, 2), (12, 3)],
        "src long, dst long",
    )
    out = {
        (r.a, r.b): r for r in cocitation_coupling(e, min_count=1).collect()
    }
    # refs 1,2 are co-cited by 10 and 11
    assert out[(1, 2)].cocitation == 2
    # docs 10,11 share refs 1 and 2 -> coupling 2
    assert out[(10, 11)].coupling == 2
    assert out[(10, 12)].coupling == 1 and out[(11, 12)].coupling == 1
    assert out[(2, 3)].cocitation == 1


def test_active_user_counts_windows(spark):
    from graph_importer_spark.operators.timeseries import active_user_counts

    rows = [
        (1, _ts(1)), (2, _ts(1)),        # day X: users 1,2
        (1, _ts(2)),                     # day X+1: user 1
        (3, _ts(10)),                    # day X+9: user 3
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.day: r for r in active_user_counts(e, wau_days=7, mau_days=28).collect()}
    d0 = min(out)
    assert out[d0].dau == 2 and out[d0].wau == 2 and out[d0].mau == 2
    assert out[d0 + 1].dau == 1 and out[d0 + 1].wau == 2
    # day X+7: user 2's day-X activity aged out of (day-7, day]; user
    # 1's day-X+1 activity is still inside
    assert out[d0 + 7].wau == 1 and out[d0 + 7].mau == 2
    assert out[d0 + 8].wau == 0
    assert out[d0 + 9].dau == 1 and out[d0 + 9].wau == 1 and out[d0 + 9].mau == 3
    # full grid: one row per day in span
    assert len(out) == 10


def test_maximal_matching_valid_and_maximal(spark):
    from graph_importer_spark.operators.analytics import maximal_matching

    rows = [(i, (i + 1) % 12) for i in range(12)] + [(i, (i + 4) % 12) for i in range(12)]
    e = spark.createDataFrame(rows, "src long, dst long")
    out = maximal_matching(e, max_rounds=8).collect()
    matched = [(r.a, r.b) for r in out if r.status == "matched"]
    assert matched and not [r for r in out if r.status == "undecided"]
    # vertex-disjoint
    vs = [v for p in matched for v in p]
    assert len(vs) == len(set(vs))
    # maximal: every unmatched edge touches a matched vertex
    mset = set(vs)
    for a, b in rows:
        ca, cb = min(a, b), max(a, b)
        if ca != cb and (ca, cb) not in matched:
            assert ca in mset or cb in mset
    # determinism
    out2 = maximal_matching(e.repartition(7), max_rounds=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_ab_test_summary_z(spark):
    from graph_importer_spark.operators.timeseries import ab_test_summary

    rows = [("A", 1)] * 30 + [("A", 0)] * 70 + [("B", 1)] * 50 + [("B", 0)] * 50
    d = spark.createDataFrame(rows, "arm string, converted int")
    r = ab_test_summary(d, "arm", "converted").collect()[0]
    assert r.rate_a == 0.3 and r.rate_b == 0.5 and r.lift == pytest.approx(0.2)
    import math

    pp = 80 / 200
    se = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 100))
    assert r.z == pytest.approx(0.2 / se, abs=1e-5)


def test_feature_hash_deterministic_and_signed(spark):
    from graph_importer_spark.operators.textstats import feature_hash

    d = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha beta alpha"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in feature_hash(d, "doc_id", "text", n_features=4).collect()}
    # identical text -> identical vector
    assert out[1].features == out[2].features
    assert out[3].features == [0, 0, 0, 0] and out[3].n_tokens == 0
    # total absolute mass <= token count; repeated token doubles its bucket
    assert sum(abs(x) for x in out[1].features) <= 3
    assert out[1].n_tokens == 3
    # unsigned variant counts positively
    u = {r.id: r for r in feature_hash(d, "doc_id", "text", n_features=4, signed=False).collect()}
    assert sum(u[1].features) == 3


def test_autocomplete_ranks_and_prefixes(spark):
    from graph_importer_spark.operators.retrieval import autocomplete_index

    d = spark.createDataFrame(
        [(1, "apple apple apple apricot banana"), (2, "apple apricot ape")],
        "doc_id long, text string",
    )
    out = autocomplete_index(
        d, "doc_id", "text", min_prefix=2, max_prefix=3, top_k=2, min_count=1
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.prefix, []).append((r.rank, r.term, r.n))
    # 'ap' covers apple(4), apricot(2), ape(1): top-2
    assert sorted(by["ap"]) == [(1, "apple", 4), (2, "apricot", 2)]
    assert by["ba"][0][1] == "banana"
    # short term 'ape' emits no duplicate prefixes
    assert len([r for r in out if r.term == "ape"]) == len(
        {(r.prefix, r.term) for r in out if r.term == "ape"}
    )


def test_diff_in_diff_arithmetic(spark):
    from graph_importer_spark.operators.timeseries import diff_in_diff

    rows = (
        [("treat", "pre", 0)] * 8 + [("treat", "pre", 1)] * 2      # 20%
        + [("treat", "post", 0)] * 4 + [("treat", "post", 1)] * 6  # 60%
        + [("control", "pre", 0)] * 9 + [("control", "pre", 1)]    # 10%
        + [("control", "post", 0)] * 8 + [("control", "post", 1)] * 2  # 20%
    )
    d = spark.createDataFrame(rows, "grp string, per string, y int")
    r = diff_in_diff(d, "grp", "per", "y").collect()[0]
    assert r.rate_treat_pre == 0.2 and r.rate_treat_post == 0.6
    assert r.rate_control_pre == 0.1 and r.rate_control_post == 0.2
    assert r.did == pytest.approx(0.4 - 0.1)


def test_cycle_motifs_closes_loops(spark):
    from graph_importer_spark.triples import cycle_motifs

    t = spark.createDataFrame(
        [
            ("x", "p1", "y"), ("y", "p2", "z"), ("z", "p3", "x"),  # cycle
            ("a", "p1", "b"), ("b", "p2", "c"), ("c", "p3", "q"),  # open
            ("x", "p1", "y"),  # duplicate evidence must not multiply
        ],
        "subj string, pred string, obj string",
    )
    out = cycle_motifs(t, "p1", "p2", "p3").collect()
    assert len(out) == 1
    assert (out[0].a, out[0].b, out[0].c) == ("x", "y", "z")


def test_augment_token_dropout_deterministic(spark):
    from graph_importer_spark.operators.textstats import augment_token_dropout

    d = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    a = augment_token_dropout(d, "doc_id", "text", drop_prob=0.2).collect()
    b = augment_token_dropout(
        d.repartition(4), "doc_id", "text", drop_prob=0.2
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    r1 = [r for r in a if r.id == 1][0]
    # ~20% dropped, never all or none at p=0.2 over 100 tokens
    assert 5 <= r.n_dropped <= 40 if (r := r1) else False
    assert r1.n_tokens == 100
    assert len(r1.aug_text.split()) == 100 - r1.n_dropped
    # kept tokens preserve order
    kept = r1.aug_text.split()
    idx = [int(t[1:]) for t in kept]
    assert idx == sorted(idx)
    # different seed -> different coins (overwhelmingly)
    c = augment_token_dropout(d, "doc_id", "text", drop_prob=0.2, seed=7).collect()
    assert any(x.aug_text != y.aug_text
               for x in a for y in c if x.id == y.id == 1)


def test_conformal_threshold_coverage_guarantee(spark):
    from graph_importer_spark.operators.evalmetrics import conformal_threshold

    import random

    rng = random.Random(11)
    cal = spark.createDataFrame(
        [(rng.random(),) for _ in range(500)], "score double"
    )
    test = spark.createDataFrame(
        [(rng.random(),) for _ in range(500)], "score double"
    )
    r = conformal_threshold(cal, test, "score", alpha=0.1).collect()[0]
    assert r.n_cal == 500 and r.k == 451
    # coverage should land near (and in expectation above) 0.9
    assert r.coverage >= 0.85
    assert 0.85 <= r.q_hat <= 0.95


def test_conformal_threshold_empty_calibration_raises(spark):
    """Empty calibration set -> explicit ValueError, not IndexError
    from the order-statistic collect (ADVICE r04)."""
    from graph_importer_spark.operators.evalmetrics import conformal_threshold

    empty = spark.createDataFrame([], "score double")
    test = spark.createDataFrame([(0.5,)], "score double")
    with pytest.raises(ValueError, match="calibration set is empty"):
        conformal_threshold(empty, test, "score", alpha=0.1)


def test_ab_test_summary_value_col_carried(spark):
    """With value_col set, the per-arm DECIMAL value sums appear as
    val_a / val_b (ADVICE r04: they were aggregated then dropped)."""
    from graph_importer_spark.operators.timeseries import ab_test_summary

    rows = [("A", 1, 10.5), ("A", 0, 2.0), ("B", 1, 7.25), ("B", 1, 1.0)]
    d = spark.createDataFrame(rows, "arm string, converted int, value double")
    r = ab_test_summary(d, "arm", "converted", value_col="value").collect()[0]
    assert float(r.val_a) == pytest.approx(12.5)
    assert float(r.val_b) == pytest.approx(8.25)
    # and the plain form still omits the value columns
    r2 = ab_test_summary(d, "arm", "converted").collect()[0]
    assert "val_a" not in r2.asDict()


def test_seasonality_profile_conservation(spark):
    from graph_importer_spark.operators.timeseries import seasonality_profile

    rows = [(dt.datetime(2024, 1, d, h),) for d in (1, 8, 15) for h in (9, 9, 14)]
    e = spark.createDataFrame(rows, "ts timestamp")
    out = seasonality_profile(e).collect()
    assert sum(r.n for r in out) == len(rows)
    assert sum(r.share for r in out) == pytest.approx(1.0, abs=1e-4)
    # Jan 1/8/15 2024 are Mondays: all cells share one dow
    assert len({r.dow for r in out}) == 1


def test_time_to_convert_firsts(spark):
    from graph_importer_spark.operators.timeseries import time_to_convert

    rows = [
        (1, _ts(1), "signup"), (1, _ts(2), "purchase"), (1, _ts(5), "purchase"),
        (2, _ts(3), "signup"),                        # never converts
        (3, _ts(4), "purchase"), (3, _ts(6), "signup"),  # pre-signup purchase ignored
        (4, _ts(2), "purchase"),                      # never signed up -> excluded
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    r = time_to_convert(e).collect()[0]
    assert r.n_started == 3 and r.n_converted == 1
    assert r.conv_rate == pytest.approx(1 / 3, abs=1e-6)
    assert r.p50_s == 86400.0  # the single delay: exactly one day


def test_robust_group_stats_flags_outlier(spark):
    from graph_importer_spark.operators.timeseries import robust_group_stats

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("b", 5.0), ("b", 5.0)
    ]
    d = spark.createDataFrame(rows, "g string, v double")
    out = {r.grp: r for r in robust_group_stats(d, "g", "v").collect()}
    assert out["a"].median == 12.5 and out["a"].n_outliers == 1
    # constant group: MAD 0, no fabricated outliers
    assert out["b"].mad == 0.0 and out["b"].n_outliers == 0


def test_benford_on_benford_data(spark):
    from graph_importer_spark.triples import benford_audit

    import math

    # powers of 1.5 follow Benford closely
    rows = [("p", str(round(1.5 ** i, 4))) for i in range(1, 120)]
    rows += [("q", "000"), ("q", "abc"), ("q", "-12.5")]
    f = spark.createDataFrame(rows, "pred string, obj string")
    out = benford_audit(f).collect()
    p = {r.digit: r for r in out if r.pred == "p"}
    assert p[1].expected_share == pytest.approx(math.log10(2), abs=1e-5)
    # low chi-square on Benford-conforming data
    assert sum(r.chi2 for r in p.values()) < 20
    # non-numeric / all-zero objs dropped; '-12.5' keeps digit 1
    q = {r.digit: r for r in out if r.pred == "q"}
    assert set(q) == {1} and q[1].n == 1


def test_kaplan_meier_with_censoring(spark):
    from graph_importer_spark.operators.timeseries import kaplan_meier

    rows = [(1, True), (2, True), (2, False), (3, True)]
    d = spark.createDataFrame(rows, "duration long, observed boolean")
    out = {r.t: r for r in kaplan_meier(d).collect()}
    # t=1: 4 at risk, 1 event -> S=0.75
    assert out[1].n_risk == 4 and out[1].survival == 0.75
    # t=2: 3 at risk, 1 event + 1 censored -> S = 0.75 * 2/3 = 0.5
    assert out[2].n_risk == 3 and out[2].survival == 0.5
    # t=3: 1 at risk (censored one removed), 1 event -> S=0
    assert out[3].n_risk == 1 and out[3].survival == 0.0


def test_truncation_recall_full_dims_is_one(spark):
    from graph_importer_spark.operators.similarity import truncation_recall

    import math

    corpus = spark.createDataFrame(
        [(i, [math.cos(i * 0.3), math.sin(i * 0.3), float(i % 2), 1.0])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = corpus.filter(F.col("vec_id") < 3)
    # truncating to the FULL width must be lossless
    full = truncation_recall(corpus, q, trunc_dims=4, k=5).collect()
    assert all(r.recall == 1.0 for r in full)
    # truncating to 1 dim loses information for most queries
    t1 = truncation_recall(corpus, q, trunc_dims=2, k=5).collect()
    assert all(0.0 <= r.recall <= 1.0 for r in t1)
    assert {r.query_id for r in t1} == {0, 1, 2}


def test_cusum_finds_level_shift(spark):
    from graph_importer_spark.operators.timeseries import cusum_changepoint

    # 10 days at ~2 events, then 10 days at ~8: changepoint at the shift
    rows = []
    for d in range(1, 11):
        rows += [(dt.datetime(2024, 1, d, h),) for h in (1, 2)]
    for d in range(11, 21):
        rows += [(dt.datetime(2024, 1, d, h),) for h in range(8)]
    e = spark.createDataFrame(rows, "ts timestamp")
    out = cusum_changepoint(e).collect()
    peak = [r for r in out if r.is_peak]
    assert len(peak) == 1
    d0 = min(r.day for r in out)
    # |S| peaks at the last low-rate day (day index 9 within the span)
    assert peak[0].day == d0 + 9
    # cusum returns to ~0 at the end (deviations sum to 0 by construction)
    last = max(out, key=lambda r: r.day)
    assert abs(last.cusum) < 1e-6


def test_seasonal_anomalies_flags_spike(spark):
    from graph_importer_spark.operators.timeseries import seasonal_anomalies

    rows = []
    # 4 weeks of steady 2-events at hour 9 on Mondays (Jan 1/8/15/22)
    for d in (1, 8, 15, 22):
        rows += [(dt.datetime(2024, 1, d, 9, m),) for m in (0, 30)]
    # plus a 20-event spike on the last Monday at hour 9
    rows += [(dt.datetime(2024, 1, 22, 9, 45, s),) for s in range(18)]
    e = spark.createDataFrame(rows, "ts timestamp")
    out = seasonal_anomalies(e, z_threshold=2.0).collect()
    spike = [r for r in out if r.n == 20]
    assert len(spike) == 1 and spike[0].is_anomaly
    # steady cells are not anomalous
    steady = [r for r in out if r.n == 2]
    assert steady and all(not r.is_anomaly for r in steady)


def test_stratified_kfold_deterministic_balanced(spark):
    from graph_importer_spark.operators.sampling import stratified_kfold

    d = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(3000)], "k long, s string"
    )
    a = stratified_kfold(d, "k", "s", k=5).collect()
    b = stratified_kfold(d.repartition(7), "k", "s", k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import Counter

    for stratum in ("s0", "s1", "s2"):
        c = Counter(r.fold for r in a if r.s == stratum)
        assert set(c) == set(range(5))
        # approximate balance within stratum (1000 rows / 5 folds)
        assert all(140 <= v <= 260 for v in c.values())


def test_edge_embeddedness_and_bridges(spark):
    from graph_importer_spark.operators.analytics import edge_embeddedness

    # triangle 1-2-3 plus a pendant bridge 3-4
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    out = {(r.a, r.b): r for r in edge_embeddedness(e).collect()}
    assert out[(1, 2)].embeddedness == 1 and not out[(1, 2)].is_local_bridge
    assert out[(3, 4)].embeddedness == 0 and out[(3, 4)].is_local_bridge


def test_burstiness_clock_vs_bursts(spark):
    from graph_importer_spark.operators.timeseries import burstiness

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: perfect clock, gap 60 s
    for i in range(10):
        rows.append((1, base + dt.timedelta(seconds=60 * i), i))
    # user 2: bursty — 9 events in 9 s, then one 10000 s later
    for i in range(9):
        rows.append((2, base + dt.timedelta(seconds=i), 100 + i))
    rows.append((2, base + dt.timedelta(seconds=10000), 200))
    # user 3: too few events
    rows.append((3, base, 300))
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r.key: r for r in burstiness(e).collect()}
    assert out[1].burstiness == pytest.approx(-1.0)   # sd = 0
    assert out[2].burstiness > 0.4                     # heavy burst
    assert 3 not in out


def test_chunk_share_survives_insertion(spark):
    from graph_importer_spark.operators.dedup import chunk_share_pairs

    import random

    rng = random.Random(9)
    txt = "".join(rng.choice("abcdefgh ") for _ in range(1500))
    d = spark.createDataFrame(
        [
            (1, txt),
            (2, txt[:300] + " WEDGE " + txt[300:]),
            (3, "".join(rng.choice("zyxwv ") for _ in range(1500))),
        ],
        "doc_id long, text string",
    )
    out = chunk_share_pairs(d, "doc_id", "text", mask_bits=5, min_shared=2).collect()
    pairs = {(r.id1, r.id2): r for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)].share > 0.7
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_sentiment_score_signs(spark):
    from graph_importer_spark.operators.textstats import sentiment_score

    d = spark.createDataFrame(
        [
            (1, "good good bad day"),
            (2, "bad bad good"),
            (3, "neutral words only"),
            (4, "GOOD Goodness"),  # case-folds; substrings don't count
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r
        for r in sentiment_score(
            d, "doc_id", "text", ["good"], ["bad"]
        ).collect()
    }
    assert out[1].label == "pos" and out[1].score == pytest.approx(0.25)
    assert out[2].label == "neg"
    assert out[3].label == "neu" and out[3].n_pos == 0
    assert out[4].n_pos == 1  # 'goodness' is not a hit


def test_knn_label_agreement_flags_planted_mislabel(spark):
    from graph_importer_spark.operators.similarity import knn_label_agreement

    import math

    # two tight clusters with clean labels + one mislabeled point
    rows = []
    for i in range(10):
        rows.append((i, [1.0 + 0.01 * i, 0.0], 0))
        rows.append((100 + i, [0.0, 1.0 + 0.01 * i], 1))
    rows.append((500, [1.0, 0.005], 1))  # sits in cluster 0, labeled 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r.id: r for r in knn_label_agreement(e, k=5).collect()}
    assert out[500].is_suspect and out[500].agreement == 0.0
    clean = [r for i, r in out.items() if i != 500 and i < 100]
    assert all(r.agreement >= 0.8 for r in clean)


def test_qlm_ranks_term_rich_docs_first(spark):
    from graph_importer_spark.operators.retrieval import qlm_topk

    d = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler"),
            (2, "spark filler filler filler filler"),
            (3, "filler filler filler filler filler"),
            (4, "spark spark filler"),
        ],
        "doc_id long, text string",
    )
    out = qlm_topk(d, "doc_id", "text", ["spark"], k=4, mu=10.0).collect()
    order = [r.doc_id for r in out]
    # hand-computed with p_c = 6/18, mu = 10:
    # ln((tf + mu/3)/(dl + mu)) -> doc1 -0.862 > doc4 -0.891 >
    # doc2 -1.242 > doc3 -1.504
    assert order == [1, 4, 2, 3]
    assert out[0].n_terms_present == 1
    import math

    assert out[0].score == pytest.approx(
        round(math.log((3 + 10 * (6 / 18)) / (5 + 10)), 4), abs=1e-4
    )
    # every document scores (smoothing keeps no-hit docs rankable)
    assert len(out) == 4 and out[-1].n_terms_present == 0


def test_forecast_eval_perfect_on_stationary(spark):
    from graph_importer_spark.operators.timeseries import (
        forecast_eval_seasonal_naive,
    )

    # 28 days, exactly 3 events at hour 12 every day: forecast == actual
    rows = [(dt.datetime(2024, 1, d, 12, m),) for d in range(1, 29) for m in (0, 1, 2)]
    e = spark.createDataFrame(rows, "ts timestamp")
    out = forecast_eval_seasonal_naive(e, test_days=7).collect()
    hit = [r for r in out if r.hour == 12]
    assert len(hit) == 7
    assert all(r.abs_err == 0.0 and r.smape_contrib == 0.0 for r in hit)
    # off-hours forecast 0, actual 0 -> contribution 0
    assert all(r.smape_contrib == 0.0 for r in out)


def test_temporal_consistency_flags_planted(spark):
    from graph_importer_spark.triples import temporal_consistency

    facts = spark.createDataFrame(
        [
            ("a", "born", "1950"), ("a", "died", "2000"),
            ("b", "born", "1990"), ("b", "died", "1980"),   # violation
            ("c", "born", "1970"),                          # no pair
            ("d", "born", "1960"), ("d", "died", "1955"),
            ("d", "died", "1999"),                          # max wins -> ok
        ],
        "subj string, pred string, obj string",
    )
    out = {r.subj: r for r in temporal_consistency(facts, "born", "died").collect()}
    assert not out["a"].is_violation and out["a"].gap == 50.0
    assert out["b"].is_violation
    assert "c" not in out
    assert not out["d"].is_violation  # charitable max over assertions


def test_poisson_bootstrap_brackets_mean(spark):
    from graph_importer_spark.operators.evalmetrics import poisson_bootstrap_ci

    d = spark.createDataFrame(
        [(i, 100.0 + (i % 21) - 10) for i in range(2000)], "k long, v double"
    )
    r = poisson_bootstrap_ci(d, "k", "v", n_replicates=30, alpha=0.1).collect()[0]
    assert r.n == 2000 and r.n_replicates == 30
    assert r.ci_lo <= r.mean <= r.ci_hi
    # CI width for a tight distribution over 2000 rows stays modest
    assert r.ci_hi - r.ci_lo < 2.0
    # determinism
    r2 = poisson_bootstrap_ci(
        spark.createDataFrame([(i, 100.0 + (i % 21) - 10) for i in range(2000)],
                              "k long, v double").repartition(9),
        "k", "v", n_replicates=30, alpha=0.1,
    ).collect()[0]
    assert (r.ci_lo, r.ci_hi) == (r2.ci_lo, r2.ci_hi)


def test_map_at_k_hand_example(spark):
    from graph_importer_spark.operators.evalmetrics import map_at_k

    runs = spark.createDataFrame(
        [("q", 10, 0.9), ("q", 11, 0.8), ("q", 12, 0.7), ("q", 13, 0.6)],
        "query string, doc_id long, score double",
    )
    truth = spark.createDataFrame(
        [("q", 10), ("q", 12), ("q", 99)], "query string, doc_id long"
    )
    r = map_at_k(runs, truth, "query", "doc_id", "score", k=4).collect()[0]
    # relevant at ranks 1 and 3: AP = (1/1 + 2/3) / min(3,4)
    assert r.n_rel == 3 and r.n_retrieved_rel == 2
    assert r.ap == pytest.approx((1.0 + 2 / 3) / 3, abs=1e-6)
    # query with truth but no run rows -> ap 0
    truth2 = truth.unionByName(
        spark.createDataFrame([("q2", 1)], "query string, doc_id long")
    )
    out = {r.query: r for r in map_at_k(runs, truth2, "query", "doc_id", "score", k=4).collect()}
    assert out["q2"].ap == 0.0 and out["q2"].n_retrieved_rel == 0


def test_fairness_metrics_detects_planted_bias(spark):
    from graph_importer_spark.operators.evalmetrics import fairness_metrics

    rows = []
    # group A: perfect classifier; group B: half the positives denied
    for i in range(100):
        y = i % 2
        rows.append(("A", y, y))
    for i in range(100):
        y = i % 2
        pred = 0 if (y == 1 and i % 4 == 1) else y
        rows.append(("B", y, pred))
    d = spark.createDataFrame(rows, "g string, y int, p int")
    out = {r.grp: r for r in fairness_metrics(d, "g", "y", "p", "A").collect()}
    assert out["A"].tpr == 1.0 and out["A"].di_ratio == 1.0
    assert out["B"].tpr == 0.5 and out["B"].eo_gap == -0.5
    assert out["B"].di_ratio == 0.5  # four-fifths rule violated
    assert out["A"].fpr == 0.0


def test_katz_path_graph(spark):
    from graph_importer_spark.operators.analytics import katz_centrality

    # path 1-2-3: walks ending at 2: len1=2, len2=2 (1-2-... wait:
    # hand-check below uses alpha=0.5, K=2
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r.id: r for r in katz_centrality(e, alpha=0.5, max_hops=2).collect()}
    # vertex 2: len-1 walks = 2 (from 1, from 3); len-2 walks = 2
    # (1-2 via? walks of length 2 ending at 2: 2-1-2, 2-3-2) -> wait
    # walk counts: W2(v) = sum over neighbors u of W1(u);
    # W1: [1]=1, [2]=2, [3]=1; W2[2] = W1(1) + W1(3) = 2
    assert out[2].degree == 2
    assert out[2].katz == pytest.approx(0.5 * 2 + 0.25 * 2, abs=1e-6)
    # vertex 1: W1=1, W2[1] = W1(2) = 2
    assert out[1].katz == pytest.approx(0.5 * 1 + 0.25 * 2, abs=1e-6)


def test_bow_dedup_groups_shuffled_text(spark):
    from graph_importer_spark.operators.dedup import bow_dup_groups

    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma  Alpha beta"),   # same bag after normalization
            (3, "alpha beta"),          # different bag
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in bow_dup_groups(d, "doc_id", "text").collect()}
    assert out[1].keeper == 1 and not out[1].is_dup
    assert out[2].keeper == 1 and out[2].is_dup
    assert out[3].keeper == 3 and not out[3].is_dup


def test_predicate_range_types_census(spark):
    from graph_importer_spark.triples import predicate_range_types

    facts = spark.createDataFrame(
        [
            ("p_num", "x", "42"), ("p_num", "x", "17"), ("p_num", "x", "oops"),
            ("p_dec", "x", "3.14"), ("p_dec", "x", "2.71"),
            ("p_date", "x", "2024-01-05"), ("p_bool", "x", "True"),
        ],
        "pred string, subj string, obj string",
    )
    out = {r.pred: r for r in predicate_range_types(facts.select("pred", "obj")).collect()}
    assert out["p_num"].inferred_type == "integer"
    assert out["p_num"].purity == pytest.approx(2 / 3, abs=1e-6)
    assert out["p_dec"].inferred_type == "decimal"
    assert out["p_date"].inferred_type == "date"
    assert out["p_bool"].inferred_type == "boolean"


def test_daily_acf_weekly_cycle(spark):
    from graph_importer_spark.operators.timeseries import daily_acf

    # strong weekly cycle: 10 events on day%7==0, 2 otherwise, 35 days
    rows = []
    for d in range(1, 36):
        n = 10 if d % 7 == 0 else 2
        rows += [(dt.datetime(2024, 1, 1) + dt.timedelta(days=d, hours=h),)
                 for h in range(n)]
    e = spark.createDataFrame(rows, "ts timestamp")
    out = {r.lag: r.acf for r in daily_acf(e, max_lag=7).collect()}
    # lag-7 autocorrelation dominates every shorter lag
    assert out[7] > 0.5
    assert all(out[7] > out[k] for k in range(1, 7))


def test_lexical_diversity_known_values(spark):
    from graph_importer_spark.operators.textstats import lexical_diversity

    d = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in lexical_diversity(d, "doc_id", "text").collect()}
    assert out[1].n_tokens == 4 and out[1].n_types == 2
    assert out[1].ttr == 0.5 and out[1].hapax_frac == 0.5
    # simpson: 1 - (3*2 + 0) / (4*3) = 0.5
    assert out[1].simpson == 0.5
    assert out[2].ttr == 1.0 and out[2].simpson == 1.0
    assert out[3].simpson is None  # < 2 tokens: undefined


def test_stationary_two_state_chain(spark):
    from graph_importer_spark.operators.timeseries import (
        stationary_distribution,
    )

    # chain: from A go to B w.p. 1; from B: half A, half B
    # stationary: pi(A) = 1/3, pi(B) = 2/3
    rows = []
    i = 0
    seq = ("A B B A B B A B A B B " * 30).split()
    base = dt.datetime(2024, 1, 1)
    for j, s in enumerate(seq):
        rows.append((1, base + dt.timedelta(minutes=j), j, s))
    e = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r.state: r.pi for r in stationary_distribution(e, iterations=15).collect()}
    assert abs(out["A"] + out["B"] - 1.0) < 1e-6
    # empirical chain close to the 1/3-2/3 design
    assert 0.25 < out["A"] < 0.45 and 0.55 < out["B"] < 0.75


def test_kmv_sketch_exact_and_estimated(spark):
    from graph_importer_spark.operators.sketches import theta_sketch_lite

    rows = [("small", i % 10) for i in range(100)] + [
        ("big", i) for i in range(2000)
    ]
    d = spark.createDataFrame(rows, "g string, v long")
    out = {r.key: r for r in theta_sketch_lite(d, "g", "v", k=64).collect()}
    # < k distinct: exact
    assert out["small"].estimate == 10.0 and out["small"].theta is None
    # >= k distinct: estimator within 30% of 2000 (k=64 -> ~12% rse)
    assert out["big"].n_kept == 64
    assert 1300 < out["big"].estimate < 2900
    # determinism
    out2 = {r.key: r for r in theta_sketch_lite(
        d.repartition(7), "g", "v", k=64).collect()}
    assert out == out2 or all(
        out[k0].estimate == out2[k0].estimate for k0 in out)


def test_community_conductance_dense_vs_leaky(spark):
    from graph_importer_spark.operators.analytics import community_conductance

    # community 1 = triangle {1,2,3} with one external edge; community
    # 2 = pair {4,5} tied to the triangle
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    assign = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)], "id long, community long"
    )
    out = {r.community: r for r in community_conductance(e, assign).collect()}
    # vol(10) = 2+2+3 = 7, cut = 1 -> 1/min(7, 3)
    assert out[10].volume == 7 and out[10].cut == 1
    assert out[10].conductance == pytest.approx(1 / 3, abs=1e-6)
    assert out[20].volume == 3 and out[20].cut == 1
    assert out[20].conductance == pytest.approx(1 / 3, abs=1e-6)


def test_kwic_contexts(spark):
    from graph_importer_spark.operators.retrieval import kwic_concordance

    d = spark.createDataFrame(
        [(1, "alpha beta TARGET gamma delta epsilon TARGET")],
        "doc_id long, text string",
    )
    out = kwic_concordance(d, "doc_id", "text", "target", window=2).collect()
    assert len(out) == 2
    first, second = sorted(out, key=lambda r: r.position)
    assert first.left_ctx == "alpha beta" and first.right_ctx == "gamma delta"
    assert second.left_ctx == "delta epsilon" and second.right_ctx == ""


def test_alert_suppression_storms(spark):
    from graph_importer_spark.operators.timeseries import alert_suppression

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(seconds=s), i)
            for i, s in enumerate([0, 100, 599, 600, 1300])]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r.id: r for r in alert_suppression(e, suppress_seconds=600).collect()}
    # kept: 0 (t=0), 3 (t=600, first >= 600), 4? t=1300 >= 600+600 -> kept
    assert out[0].kept and out[3].kept and out[4].kept
    assert not out[1].kept and not out[2].kept
    assert out[1].storm_idx == 0 and out[3].storm_idx == 1
    assert out[4].storm_idx == 2


def test_centroid_drift_identical_and_shifted(spark):
    from graph_importer_spark.operators.quantize import centroid_drift

    a = spark.createDataFrame(
        [(i, [1.0, 0.0], "x") for i in range(10)]
        + [(100 + i, [0.0, 2.0], "y") for i in range(10)],
        "vec_id long, embedding array<double>, label string",
    )
    b = spark.createDataFrame(
        [(i, [1.0, 0.0], "x") for i in range(5)]        # unchanged
        + [(100 + i, [2.0, 0.0], "y") for i in range(5)]  # rotated 90°
        + [(200, [1.0, 1.0], "z")],                       # B-only label
        "vec_id long, embedding array<double>, label string",
    )
    out = {r.label: r for r in centroid_drift(a, b).collect()}
    assert out["x"].cosine == pytest.approx(1.0) and out["x"].l2 == 0.0
    assert out["y"].cosine == pytest.approx(0.0, abs=1e-6)
    assert out["z"].cosine is None and out["z"].n_a == 0


def test_ips_recovers_target_value(spark):
    from graph_importer_spark.operators.evalmetrics import ips_policy_value

    import random

    rng = random.Random(3)
    rows = []
    # behavior: arm 0 w.p. 0.7, arm 1 w.p. 0.3; reward 1 iff arm==1
    for _ in range(4000):
        arm = 0 if rng.random() < 0.7 else 1
        prob = 0.7 if arm == 0 else 0.3
        rows.append((arm, prob, 1.0 if arm == 1 else 0.0, 1))
    d = spark.createDataFrame(rows, "arm int, prob double, reward double, target_arm int")
    r = ips_policy_value(d, "arm", "reward", "prob", "target_arm").collect()[0]
    # true value of always-arm-1 is 1.0; IPS should land near it
    assert 0.85 < r.ips < 1.15
    assert r.snips == pytest.approx(1.0, abs=1e-6)  # matched rewards all 1
    assert r.avg_logged_reward < 0.4


def test_rouge_n_clipped_matching(spark):
    from graph_importer_spark.operators.evalmetrics import rouge_n

    pairs = spark.createDataFrame(
        [
            (1, "the cat sat", "the cat sat"),          # perfect
            (2, "a a a", "a b"),                         # clipping: uni 'a' x1
            (3, "x y", "p q r"),                         # no overlap
        ],
        "id long, cand string, ref string",
    )
    u = {r.id: r for r in rouge_n(pairs, "id", "cand", "ref", n=1).collect()}
    assert u[1].rouge_f1 == 1.0
    # cand 'a a a' vs ref 'a b': clipped match = min(3,1) = 1
    assert u[2].n_match == 1
    assert u[2].rouge_recall == 0.5 and u[2].rouge_precision == pytest.approx(1 / 3, abs=1e-6)
    assert u[3].n_match == 0 and u[3].rouge_f1 is None
    b = {r.id: r for r in rouge_n(pairs, "id", "cand", "ref", n=2).collect()}
    assert b[1].rouge_f1 == 1.0 and b[1].n_ref_grams == 2
    assert b[3].n_cand_grams == 1 and b[3].n_match == 0


def test_degree_centralization_star_vs_cycle(spark):
    from graph_importer_spark.operators.analytics import degree_centralization

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = degree_centralization(star).collect()[0]
    assert r.centralization == pytest.approx(1.0)  # perfect star
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    r2 = degree_centralization(cycle).collect()[0]
    assert r2.centralization == pytest.approx(0.0)
    assert r2.n_nodes == 6 and r2.max_degree == 2


def test_traffic_hhi_flat_vs_spike(spark):
    from graph_importer_spark.operators.timeseries import traffic_hhi

    # all events in one hour cell -> hhi 1.0
    spike = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 9, m),) for m in range(30)], "ts timestamp"
    )
    r = traffic_hhi(spike).collect()[0]
    assert r.hhi == 1.0 and r.n_cells == 1
    # evenly spread over 4 cells -> hhi 0.25, peakiness 1.0
    flat = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, h, m),) for h in (1, 2, 3, 4) for m in (0, 30)],
        "ts timestamp",
    )
    r2 = traffic_hhi(flat).collect()[0]
    assert r2.hhi == pytest.approx(0.25) and r2.peakiness == pytest.approx(1.0)
