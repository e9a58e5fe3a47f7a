"""Round-4 session-9 operators: epoch-weight dataset mixing, FIM
split, canonical-URL dedup, per-fact provenance, SPARQL star BGP with
OPTIONAL.  Semantic tests (bounds, determinism, known answers) — the KG and graph operators
also have oracle rows in the contract sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.packing import fim_split
from graph_importer_spark.operators.sampling import epoch_repeat
from graph_importer_spark.operators.urls import url_dedup
from graph_importer_spark.triples import provenance, star_pattern


# ---------- epoch_repeat ----------


def _docs(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_epoch_repeat_integer_weight_exact(spark):
    d = _docs(spark)
    w = spark.createDataFrame([("en", 3.0)], "lang string, epochs double")
    out = epoch_repeat(d, "doc_id", "lang", w)
    rows = out.collect()
    # every en row exactly 3 copies, copy_no 1..3; de dropped entirely
    assert all(r.lang == "en" for r in rows)
    per_id = {}
    for r in rows:
        per_id.setdefault(r.doc_id, []).append(r.copy_no)
    assert len(per_id) == 100
    assert all(sorted(v) == [1, 2, 3] for v in per_id.values())


def test_epoch_repeat_fractional_weight_expected_rate(spark):
    d = _docs(spark)
    w = spark.createDataFrame([("de", 1.5)], "lang string, epochs double")
    out = epoch_repeat(d, "doc_id", "lang", w)
    n = out.count()
    # 100 de docs at w=1.5: 100 guaranteed + ~50 coin copies
    assert 100 + 25 <= n <= 100 + 75
    # every doc keeps at least its floor(w)=1 copy
    assert out.select("doc_id").distinct().count() == 100


def test_epoch_repeat_deterministic_and_downsampling(spark):
    d = _docs(spark)
    w = spark.createDataFrame([("en", 0.25)], "lang string, epochs double")
    a = sorted(map(tuple, epoch_repeat(d, "doc_id", "lang", w).collect()))
    b = sorted(
        map(tuple, epoch_repeat(d.repartition(7), "doc_id", "lang", w).collect())
    )
    assert a == b  # partition-invariant membership
    assert all(t[2] == 1 for t in a)  # w<1 never duplicates
    assert 0 < len(a) < 100


# ---------- fim_split ----------


def test_fim_split_reassembles(spark):
    d = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(i % 17))) for i in range(60)],
        "doc_id long, text string",
    )
    out = fim_split(d, "doc_id", "text").collect()
    assert len(out) == 60
    for r in out:
        toks = [t for t in (r.prefix, r.middle, r.suffix) if t != ""]
        joined = " ".join(toks).split()
        assert joined == [f"t{j}" for j in range(r.n_tokens)]


def test_fim_split_deterministic_seed_sensitivity(spark):
    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    a = fim_split(d, "doc_id", "text", seed=1).collect()[0]
    b = fim_split(d, "doc_id", "text", seed=1).collect()[0]
    assert tuple(a) == tuple(b)
    # over many seeds the cut points must move
    cuts = {
        tuple(fim_split(d, "doc_id", "text", seed=s).collect()[0][2:])
        for s in range(8)
    }
    assert len(cuts) > 1


def test_fim_split_empty_doc(spark):
    d = spark.createDataFrame([(5, "")], "doc_id long, text string")
    r = fim_split(d, "doc_id", "text").collect()[0]
    assert (r.n_tokens, r.prefix, r.middle, r.suffix) == (0, "", "", "")


# ---------- url_dedup ----------


def test_url_dedup_keeps_best_quality_then_smallest_id(spark):
    pages = spark.createDataFrame(
        [
            (1, "HTTPS://A.com:443/p?utm_source=z&id=1#f", 10),
            (2, "https://a.com/p?id=1", 20),
            (3, "https://a.com/p?id=1", 20),
            (4, "http://b.com/q", 5),
        ],
        "doc_id long, url string, q long",
    )
    out = {r.canonical_url: r for r in url_dedup(pages, "url", "doc_id", "q").collect()}
    assert set(out) == {"https://a.com/p?id=1", "http://b.com/q"}
    a = out["https://a.com/p?id=1"]
    # three variants collapse; quality tie 20/20 -> smallest id wins
    assert (a.n_dups, a.doc_id, a.q) == (3, 2, 20)
    assert out["http://b.com/q"].n_dups == 1


# ---------- provenance ----------


def test_provenance_counts_and_k_sample(spark):
    t = spark.createDataFrame(
        [("s", "p", "o", f"src{i}") for i in range(9)]
        + [("s", "p", "o", "src3")]  # duplicate assertion, same source
        + [("s2", "p", "o2", "only")],
        "subj string, pred string, obj string, source string",
    )
    out = {r.subj: r for r in provenance(t, k=2).collect()}
    assert out["s"].n_sources == 9
    assert out["s"].sources == "src0,src1"  # sorted, first k
    assert out["s2"].n_sources == 1 and out["s2"].sources == "only"


# ---------- star_pattern ----------


def _star_triples(spark):
    return spark.createDataFrame(
        [
            ("c1", "nation", "US"),
            ("c1", "segment", "AUTO"),
            ("c1", "name", "alice"),
            ("c2", "nation", "DE"),
            ("c2", "segment", "BIKE"),
            ("c3", "nation", "FR"),  # no segment -> excluded
            ("c4", "nation", "JP"),
            ("c4", "nation", "JP"),  # duplicate fact, not a new binding
            ("c4", "segment", "SHIP"),
            ("c4", "segment", "RAIL"),  # two bindings -> two rows
        ],
        "subj string, pred string, obj string",
    )


def test_star_pattern_required_optional_multiplicity(spark):
    out = star_pattern(
        _star_triples(spark), "cust", ["nation", "segment"], optional=["name"]
    ).collect()
    by_cust = {}
    for r in out:
        by_cust.setdefault(r.cust, []).append(r)
    assert set(by_cust) == {"c1", "c2", "c4"}  # c3 misses a required pred
    assert by_cust["c1"][0].name == "alice"
    assert by_cust["c2"][0].name is None  # OPTIONAL unbound survives
    # duplicate facts don't multiply; distinct bindings do
    assert sorted(r.segment for r in by_cust["c4"]) == ["RAIL", "SHIP"]


def test_star_pattern_requires_nonempty(spark):
    with pytest.raises(ValueError):
        star_pattern(_star_triples(spark), "x", [])
