"""Mention detection + entity linking semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_importer_spark.linking import link_mentions
from graph_importer_spark.mentions import detect_mentions, split_sentences


def _tiny(spark):
    rows = [
        ("u1", "Acme1 acquired Globex2 Corp.  Nothing here."),
        ("u2", "Globex2 Corp works for Acme1."),
        ("u3", "no mentions at all."),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    aliases = spark.createDataFrame(
        [
            ("Acme1", "ent_1", 0.9),
            ("Globex2", "ent_2", 0.9),
            ("Globex2 Corp", "ent_2", 0.6),
        ],
        "alias string, entity string, prior double",
    )
    return pages, aliases


def test_split_sentences(spark):
    pages, _ = _tiny(spark)
    s = split_sentences(pages).filter(F.col("url") == "u1").collect()
    assert [r["sentence"] for r in sorted(s, key=lambda r: r["sent_id"])] == [
        "Acme1 acquired Globex2 Corp.",
        "Nothing here.",
    ]


def test_token_join_detection(spark):
    pages, aliases = _tiny(spark)
    m = detect_mentions(pages, aliases).collect()
    surfaces = {(r["url"], r["sent_id"], r["pos"], r["surface"]) for r in m}
    assert ("u1", 0, 0, "Acme1") in surfaces
    assert ("u1", 0, 2, "Globex2") in surfaces
    assert ("u1", 0, 2, "Globex2 Corp") in surfaces  # 2-token candidate
    assert not any(r["url"] == "u3" for r in m)


def test_linking_top1_and_overlap(spark):
    pages, aliases = _tiny(spark)
    linked = link_mentions(detect_mentions(pages, aliases), aliases).collect()
    by_key = {(r["url"], r["sent_id"], r["pos"]): r for r in linked}
    # longest surface wins: 'Globex2 Corp' (n_tokens=2) over 'Globex2'
    r = by_key[("u1", 0, 2)]
    assert r["surface"] == "Globex2 Corp" and r["entity"] == "ent_2"
    # the interior token 'Corp' (pos 3) must not produce its own link
    assert ("u1", 0, 3) not in by_key
    # exactly one link per mention position
    assert len(linked) == len(by_key)


def test_linking_determinism_tiebreak(spark):
    """Same surface, two entities, equal prior -> lexicographically
    smaller entity wins (full determinism)."""
    pages = spark.createDataFrame([("u", "X here.")], "url string, text string")
    aliases = spark.createDataFrame(
        [("X", "ent_b", 0.5), ("X", "ent_a", 0.5)],
        "alias string, entity string, prior double",
    )
    linked = link_mentions(detect_mentions(pages, aliases), aliases).collect()
    assert len(linked) == 1 and linked[0]["entity"] == "ent_a"


def _shared_alias_fixture(spark, rng, extra_aliases=(), extra_words=()):
    """Aliases where every surface names 2-3 entities (even ones with
    tied priors, odd ones with distinct priors), entities share
    aliases, and two-token aliases start with a one-token alias; plus
    80 pages of random sentences over those surfaces and ``extra_words``.
    Returns (alias rows, aliases, pages)."""
    n = 12
    rows = []
    for i in range(n):
        ents = [f"e{i}_{k}" for k in range(2 + i % 2)] + [f"e{(i + 1) % n}_0"]
        if i % 2 == 0:
            priors = [0.5] * len(ents)
        else:
            priors = rng.sample([0.2, 0.4, 0.6, 0.8], len(ents))
        rows += [(f"Al{i}", e, p) for e, p in zip(ents, priors)]
        if i < 4:  # two-token aliases whose first token is an alias too
            tied = i % 2 == 1
            rows += [
                (f"Al{i} Corp", f"c{i}_{k}", 0.3 if tied else 0.1 * (k + 1))
                for k in range(2)
            ]
    rows += list(extra_aliases)
    aliases = spark.createDataFrame(rows, "alias string, entity string, prior double")
    words = [f"Al{i}" for i in range(n)] + [f"Al{i} Corp" for i in range(4)]
    words += ["the", "of", "Corp", *extra_words]

    def sentence():
        return " ".join(rng.choice(words) for _ in range(rng.randint(3, 8))) + "."

    pages = spark.createDataFrame(
        [
            (f"u{p}", " ".join(sentence() for _ in range(rng.randint(1, 3))))
            for p in range(80)
        ],
        "url string, text string",
    )
    return rows, aliases, pages


def test_linking_is_a_function_of_the_surface(spark):
    """Every alias names 2-3 entities and entities share aliases, yet
    top-1 (longest surface, then prior, then smallest entity) never
    looks past the surface string: across every sentence context,
    including ones where a two-token alias overlaps a one-token one,
    each linked surface maps to exactly one entity."""
    import random

    rows, aliases, pages = _shared_alias_fixture(spark, random.Random(7))
    linked = link_mentions(detect_mentions(pages, aliases), aliases)
    by_surface: dict = {}
    for r in linked.select("surface", "entity").collect():
        by_surface.setdefault(r["surface"], set()).add(r["entity"])
    assert {s for s, ents in by_surface.items() if len(ents) > 1} == set()
    # and it is the entity top-1 picks from the gazetteer alone
    best = {}
    for a, e, p in rows:
        if a not in best or (-p, e) < (-best[a][1], best[a][0]):
            best[a] = (e, p)
    assert by_surface == {s: {best[s][0]} for s in by_surface}
    # the fixture exercises tied, untied and overlapping surfaces
    assert {"Al0", "Al1", "Al0 Corp", "Al1 Corp"} <= set(by_surface)
    assert len(by_surface) == 12 + 4


def test_null_prior_links_independently_of_alias_order(spark):
    """A null prior ranks below every prior: the build's top-1 fold, the
    compiled dictionary and the stream's batch plan all pick ``e1``,
    whichever order the alias rows come in."""
    from graph_importer_spark.extract import with_text
    from graph_importer_spark.linking import compile_surfaces
    from graph_importer_spark.streaming import PAGES_SCHEMA, _batch_triples
    from graph_importer_spark.triples import extract_triples

    pages = spark.createDataFrame(
        [("u", None, b"<p>X met Y here.</p>", None, "en")], PAGES_SCHEMA
    )
    pt = with_text(pages)
    rows = [("X", "e2", None), ("X", "e1", 0.5), ("Y", "y", 0.5)]
    orders = [
        spark.createDataFrame(order, "alias string, entity string, prior double")
        for order in (rows, [rows[1], rows[0], rows[2]])
    ]
    for aliases in orders:
        linked = link_mentions(detect_mentions(pt, aliases), aliases)
        assert {(r["surface"], r["entity"]) for r in linked.collect()} == {
            ("X", "e1"),
            ("Y", "y"),
        }
        build = extract_triples(linked, split_sentences(pt), pt, default_pred="cooccurs_with")
        dictionary = spark.sparkContext.broadcast(compile_surfaces(aliases))
        stream = _batch_triples(pages, dictionary, default_pred="cooccurs_with")
        for df in (build, stream):
            assert [tuple(r) for r in df.select("subj", "obj").collect()] == [("e1", "y")]
        dictionary.destroy()
    for aliases in orders:
        surfaces, entities = compile_surfaces(aliases)
        assert dict(zip(surfaces, entities.to_pylist())) == {"X": "e1", "Y": "y"}


def test_arrow_kernel_matches_the_build(spark):
    """The stream's vectorized kernel (``compile_surfaces`` +
    ``kept_mentions`` + ``sentence_ends``) against the build's
    ``detect_mentions -> link_mentions -> extract_triples`` for K = 1, 2
    and 3, over the shared-alias fixture plus: three-token aliases over
    the two-token ones, null priors, a shared alias whose tokens end in
    a blank (matched only after a punctuation-only token), and
    punctuation-only tokens that strip to ''.  Sentence ends make the
    K-token slice run past the end; many sentences keep < 2 mentions."""
    import random

    import pyarrow as pa

    from graph_importer_spark.linking import (
        compile_surfaces,
        kept_mentions,
        sentence_ends,
    )
    from graph_importer_spark.mentions import sentence_tokens
    from graph_importer_spark.triples import extract_triples

    extra = [
        ("Al0 Corp Ltd", "t0", 0.4),
        ("Al1 Corp Ltd", "t1", 0.4),
        ("Al1 Corp Ltd", "t2", None),
        ("Al4", "n4", None),
        ("Al5", "n5", None),
        ("Al5", "a5", None),
        ("Al6 ", "s6", 0.9),
        ("Al6 ", "r6", 0.9),
        (None, "nobody", 1.0),
    ]
    words = ["Al0 Corp Ltd", "Al1 Corp Ltd", "Ltd", ",", "Al6 ,", ";", "-"]
    _, aliases, pages = _shared_alias_fixture(spark, random.Random(11), extra, words)
    sents = split_sentences(pages).select("url", "sent_id", sentence_tokens().alias("tokens"))
    t = sents.toArrow()
    tokens = t.column("tokens").combine_chunks()
    url, sent_id = t.column("url").to_pylist(), t.column("sent_id").to_pylist()
    assert "" in set(tokens.flatten().to_pylist())
    stamped = pages.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    surfaces, entities = compile_surfaces(aliases)
    for k in (1, 2, 3):
        linked = link_mentions(detect_mentions(pages, aliases, max_alias_tokens=k), aliases)
        want = {
            (r["url"], r["sent_id"], r["pos"], r["n_tokens"], r["entity"])
            for r in linked.collect()
        }
        row, pos, n_tokens, hit = kept_mentions(tokens, surfaces, k)
        got = {
            (url[i], sent_id[i], int(p), int(n), e)
            for i, p, n, e in zip(row, pos, n_tokens, entities.take(pa.array(hit)).to_pylist())
        }
        assert got == want, k
        assert len(got) == len(row)
        want = sorted(
            (r["url"], r["subj"], r["obj"])
            for r in extract_triples(
                linked, split_sentences(pages), stamped, default_pred="cooccurs_with"
            ).collect()
        )
        # any slice of the batch links the same way
        got = []
        for lo, hi in ((0, len(tokens) // 3), (len(tokens) // 3, len(tokens))):
            rows, subj, obj = sentence_ends(tokens.slice(lo, hi - lo), surfaces, entities, k)
            got += zip([url[lo + i] for i in rows], subj.to_pylist(), obj.to_pylist())
        assert sorted(got) == want, k
        assert len(want) > 20
    # the fixture reaches what it claims (at K = 3)
    assert {"Al6 ", "Al1 Corp Ltd", "Al0 Corp"} <= {surfaces[h] for h in hit}
    assert {1, 2, 3} <= set(n_tokens.tolist())


def test_negative_samples_filtered_and_deterministic(spark):
    from graph_importer_spark.triples import negative_samples

    t = spark.createDataFrame(
        [("a", "likes", "x"), ("a", "likes", "y"), ("b", "likes", "x")],
        ["subj", "pred", "obj"],
    )
    out = negative_samples(t, n_per_positive=4, seed=1)
    rows = [(r["subj"], r["pred"], r["obj"], r["neg_obj"], r["j"]) for r in out.collect()]
    # no negative is a positive
    pos = {("a", "likes", "x"), ("a", "likes", "y"), ("b", "likes", "x")}
    assert all((s, p, n) not in pos for s, p, _, n, _ in rows)
    # neg_obj from the object vocabulary only
    assert {n for *_, n, _ in rows} <= {"x", "y"}
    # deterministic across runs and partitionings
    again = [
        (r["subj"], r["pred"], r["obj"], r["neg_obj"], r["j"])
        for r in negative_samples(t.repartition(7), 4, seed=1).collect()
    ]
    assert sorted(rows) == sorted(again)
    # seed changes picks
    other = [
        (r["subj"], r["pred"], r["obj"], r["neg_obj"], r["j"])
        for r in negative_samples(t, 4, seed=2).collect()
    ]
    assert sorted(rows) != sorted(other)
    # explicit rank table overrides the dense-id default
    ranks = spark.createDataFrame([("x", 0), ("y", 1)], ["neg_obj", "_rank"])
    explicit = negative_samples(t, 4, seed=1, entity_ranks=ranks)
    assert explicit.count() > 0
