"""Driver-contract conformance: entry() smoke + Spark-vs-DuckDB oracle
parity on a fast subset (the full sweep lives in
scripts/check_contract.py; set SPARK_GRAFT_CONTRACT_FULL=1 to run all
queries here)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from graph_importer_spark import contract as C  # noqa: E402

FAST = [
    "kg_flagship",
    "kg_extract",
    "kg_predicate_stats",
    "stream_incremental_triples",
    "imp_edge_parse",
    "imp_smart_keys",
    "gen_clique",
    "cc_star",
    "pagerank_star",
    "graph_mincut",
]

# The registry is the KG system's surface: the pipeline stages and KG
# analytics, the reference importer/generator rows, streaming, CC and
# the Pregel-style graph catalog.
KG_FAMILIES = ("kg_", "imp_", "gen_", "stream_", "graph_", "cc_")
PREGEL_ROWS = {
    "pagerank_star", "sssp_tree", "scc_cycles", "lpa_cliques", "hits_star",
    "linerank_star", "slpa_overlap", "tri_copurchase", "kcore_copurchase",
    "effective_closeness_tree",
}


def _canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(float(v))
    return str(v)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["subj", "pred", "obj", "n_pairs"]


def test_registry_consistency():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30
    assert all(n.startswith(KG_FAMILIES) or n in PREGEL_ROWS for n in qs)


def _oracle_parity(spark, sf_dir, duck, name):
    sdf = C.QUERIES[name](spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(C.ORACLES[name])
    dcols = [c.lower() for c in res.columns]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    idx = [dcols.index(c) for c in scols]
    drows = [tuple(r[i] for i in idx) for r in drows]
    a = sorted("|".join(_canon(v) for v in r) for r in srows)
    b = sorted("|".join(_canon(v) for v in r) for r in drows)
    assert a == b


@pytest.mark.parametrize("name", FAST)
def test_oracle_parity(spark, sf_dir, duck, name):
    _oracle_parity(spark, sf_dir, duck, name)


def test_flagship_oracle_precondition(duck):
    """ORACLE_KG_FLAGSHIP treats each document as one whitespace-token
    unit while the pipeline splits sentences on (?<=[.!?])\\s+ and strips
    trailing [.!?,;:] — semantics that coincide only on a punctuation-free
    corpus.  Assert that precondition on the actual testdata so a future
    refresh breaks HERE, not as a silent oracle mismatch."""
    n = duck.sql(
        "SELECT COUNT(*) FROM documents WHERE regexp_matches(text, '[.!?,;:]')"
    ).fetchone()[0]
    assert n == 0, (
        "documents corpus now contains sentence punctuation; "
        "ORACLE_KG_FLAGSHIP must encode the sentence split before trusting it"
    )


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_CONTRACT_FULL"),
    reason="full sweep via scripts/check_contract.py or SPARK_GRAFT_CONTRACT_FULL=1",
)
@pytest.mark.parametrize("name", sorted(set(C.ORACLES) - set(FAST)))
def test_oracle_parity_full(spark, sf_dir, duck, name):
    _oracle_parity(spark, sf_dir, duck, name)
