"""Transitive closure, SPARQL chain patterns, power-law MLE, C4 line
filter, inverted-index postings."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.analytics import (
    degree_powerlaw,
    transitive_closure,
)
from graph_importer_spark.operators.retrieval import build_postings
from graph_importer_spark.operators.textstats import c4_line_filter
from graph_importer_spark.triples import chain_pattern


# -- transitive closure ------------------------------------------------------

def test_closure_dag(spark):
    # diamond: 1->2, 1->3, 2->4, 3->4, 4->5
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert got == {
        (1, 2), (1, 3), (1, 4), (1, 5),
        (2, 4), (2, 5), (3, 4), (3, 5), (4, 5),
    }


def test_closure_cycle_terminates(spark):
    # 3-cycle: closure = all ordered pairs, never (x, x)
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert got == {(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b}


def test_closure_chain_depth_beats_rounds(spark):
    # depth-9 chain closes in ceil(log2(9)) = 4 doubling rounds; with
    # max_iter=5 the full closure (45 pairs) must be reached
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    rows = transitive_closure(e, max_iter=5).collect()
    assert len(rows) == 45  # 9+8+...+1


# -- chain pattern -----------------------------------------------------------

@pytest.fixture(scope="module")
def kg(spark):
    rows = [
        ("a", "p1", "b"), ("a", "p1", "c"),
        ("b", "p2", "d"), ("c", "p2", "d"), ("d", "p2", "e"),
        ("d", "p3", "f"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_chain_2hop(spark, kg):
    got = {tuple(r) for r in chain_pattern(kg, ["p1", "p2"]).collect()}
    assert got == {("a", "b", "d"), ("a", "c", "d")}


def test_chain_3hop(spark, kg):
    got = {tuple(r) for r in chain_pattern(kg, ["p1", "p2", "p3"]).collect()}
    assert got == {("a", "b", "d", "f"), ("a", "c", "d", "f")}


def test_chain_empty_preds_raises(spark, kg):
    with pytest.raises(ValueError):
        chain_pattern(kg, [])


# -- degree power-law --------------------------------------------------------

def test_powerlaw_closed_form(spark):
    # star on 5 leaves: hub deg 5, leaves deg 1 -> n=6
    e = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    row = degree_powerlaw(e).collect()[0]
    assert row.n_nodes == 6 and row.max_deg == 5
    expected = 1.0 + 6 / (5 * math.log(1 / 0.5) + math.log(5 / 0.5))
    assert row.alpha == round(expected, 6)


def test_powerlaw_xmin_filters(spark):
    e = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    row = degree_powerlaw(e, xmin=2).collect()[0]
    assert row.n_nodes == 1 and row.max_deg == 5  # only the hub survives


# -- C4 line filter ----------------------------------------------------------

def test_c4_line_rules(spark):
    keep1 = "this line has enough words to pass."
    keep2 = "another line that is long enough too!"
    keep3 = 'a third quoted keeper line right here."'
    short = "too short."
    nopunct = "this line is long enough but has no terminal punctuation"
    js = "this javascript line would otherwise be kept fine."
    text = "\n".join([keep1, short, keep2, nopunct, js, keep3])
    df = spark.createDataFrame([(1, text)], "id long, text string")
    r = c4_line_filter(df, "id", "text").collect()[0]
    assert r.n_lines == 6 and r.n_kept == 3 and r.c4_keep is True
    clean = "\n".join([keep1, keep2, keep3])
    assert r.clean_md5 == hashlib.md5(clean.encode()).hexdigest()


def test_c4_page_rules(spark):
    good = "this line has enough words to pass."
    rows = [
        (1, "\n".join([good] * 3)),            # 3 kept -> page kept
        (2, "\n".join([good] * 2)),            # 2 kept -> dropped
        (3, "\n".join([good] * 3) + "\nlorem ipsum dolor"),  # marker
        (4, "\n".join([good] * 3) + "\nvar x = {"),          # brace
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.c4_keep for r in c4_line_filter(df, "id", "text").collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


# -- postings ----------------------------------------------------------------

def test_postings_basic(spark):
    docs = [(1, "b a b"), (2, "a c"), (3, "b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.term: r for r in build_postings(df, "doc_id", "text").collect()}
    assert got["b"].df == 2 and got["b"].total_tf == 3
    assert got["b"].postings == "1:2 3:1"
    assert got["a"].postings == "1:1 2:1"
    assert got["c"].df == 1


def test_postings_df_caps(spark):
    docs = [(1, "b a b"), (2, "a c"), (3, "b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    terms = {r.term for r in build_postings(df, "doc_id", "text", min_df=2).collect()}
    assert terms == {"a", "b"}
    terms = {r.term for r in build_postings(df, "doc_id", "text", max_df=1).collect()}
    assert terms == {"c"}


def test_postings_max_postings(spark):
    # term 'a': tf 3 in doc 5, tf 2 in doc 1, tf 1 in doc 3 -> keep top 2
    docs = [(5, "a a a"), (1, "a a"), (3, "a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = build_postings(df, "doc_id", "text", max_postings=2).collect()[0]
    assert r.df == 3 and r.total_tf == 6  # stats stay exact
    assert r.postings == "1:2 5:3"  # top-tf docs, re-sorted by doc id
