"""End-to-end pipeline: the P/R>=0.95 gate, the byte-identical text
invariant, lineage/metrics contract, and resume idempotency
(SURVEY §5.2/§5.6; north_rule correctness gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_importer_spark import cc as _cc
from graph_importer_spark import synth
from graph_importer_spark.pipeline import Pipeline, PipelineConfig, run_pipeline
from graph_importer_spark.materialize import GraphSpec, triples_to_graph


def _pr(got, gt):
    got = got.select("url", "subj", "pred", "obj").distinct()
    gt = gt.distinct()
    tp = got.join(gt, ["url", "subj", "pred", "obj"]).count()
    return tp / max(got.count(), 1), tp / max(gt.count(), 1)


def test_end_to_end_pr_gate(spark, warehouse):
    pages, gt, aliases = synth.corpus(spark, n_pages=120, n_entities=40)
    p = run_pipeline(spark, pages, aliases, warehouse)
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_end_to_end_pr_gate_heavy_pages(spark, warehouse):
    """Same P/R gate on weight-4 pages (~8 KB html, boilerplate-laden —
    the bench corpus shape): extraction must strip the noise without
    disturbing recall."""
    pages, gt, aliases = synth.corpus(spark, n_pages=60, n_entities=30, weight=4)
    p = run_pipeline(spark, pages, aliases, warehouse)
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_end_to_end_dense_ids_path(spark, warehouse):
    """Drop both size gates to zero through run_pipeline (the 10^12
    design point: dense-id gate, plain-join rewrite) and hold the same
    P/R gate.  Synth linking is a function of the surface, so the
    contracted graph has no merge edge and CC is never called; dense CC
    itself is checked in test_canonical_map_merges_shared_surfaces."""
    pages, gt, aliases = synth.corpus(spark, n_pages=120, n_entities=40)
    p = run_pipeline(
        spark, pages, aliases, warehouse, dense_id_threshold=0, broadcast_map_rows=0
    )
    m = {
        (r["metric"]): r["value"]
        for r in p.cat.read("_metrics").filter(F.col("stage") == "canonicalize").collect()
    }
    assert m["cc_merge_edges"] == 0.0
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


@pytest.mark.parametrize(
    "gates",
    [{}, {"small_cc_rows": 0}, {"dense_id_threshold": 0}],
    ids=["default", "iterative", "dense"],
)
def test_canonical_map_merges_shared_surfaces(spark, warehouse, gates):
    """Canonicalization on a linked table where surfaces are shared
    between entities, so it changes the output: chains of shared
    surfaces merge, a hub entity with several aliases and singletons
    stay themselves, duplicate rows change nothing.  Reference: CC over
    the full surface<->entity bipartite graph, keeping the entities."""
    rows = [
        ("u1", "s1", "B"), ("u1", "s1", "A"), ("u2", "s1", "A"),  # duplicate
        ("u2", "s2", "B"), ("u2", "s2", "C"),
        ("u3", "s3", "D"),
        ("u3", "s4", "E"), ("u4", "s5", "E"),  # one entity, two aliases
        # F..I: the chain's last surface does not hold the component min
        ("u4", "s6", "G"), ("u4", "s6", "F"), ("u5", "s7", "F"),
        ("u5", "s7", "H"), ("u6", "s8", "I"), ("u6", "s8", "H"),
    ]
    linked = spark.createDataFrame(rows * 2, "url string, surface string, entity string")
    p = Pipeline(spark, PipelineConfig(warehouse=warehouse, **gates))
    got = {(r["entity"], r["canonical"]) for r in p._canonical_map(linked).collect()}

    bipartite = linked.select(
        F.concat(F.lit("s:"), "surface").alias("src"),
        F.concat(F.lit("e:"), "entity").alias("dst"),
    )
    want = {
        (r["name"][2:], r["canonical"][2:])
        for r in _cc.connected_components_str(bipartite).collect()
        if r["name"].startswith("e:")
    }
    assert want == {
        ("A", "A"), ("B", "A"), ("C", "A"), ("D", "D"), ("E", "E"),
        ("F", "F"), ("G", "F"), ("H", "F"), ("I", "F"),
    }
    assert got == want
    m = {name: v for stage, name, v in p._metric_buf if stage == "canonicalize"}
    assert m["cc_pairs"] == 13 and m["cc_merge_edges"] == 5
    assert m["cc_dense_ids"] == (1 if "dense_id_threshold" in gates else 0)
    # only the default gate takes the single-task union-find (no rounds)
    assert (m["cc_iterations"] == 0) == (not gates)


def test_byte_identical_text_stage(spark, warehouse):
    pages, _, aliases = synth.corpus(spark, n_pages=50, n_entities=20)
    p = run_pipeline(spark, pages, aliases, warehouse)
    got = p.cat.read("pages_text").select("url", "text")
    want = synth.expected_text(spark, n_pages=50, n_entities=20)
    bad = (
        got.join(want, "url")
        .filter(F.col("text") != F.col("expected_text"))
        .count()
    )
    assert bad == 0


def test_lineage_metrics_and_graph_output(spark, warehouse):
    pages, _, aliases = synth.corpus(spark, n_pages=40, n_entities=15)
    p = run_pipeline(spark, pages, aliases, warehouse)
    stages = {r["stage"] for r in p.cat.read("_lineage").select("stage").distinct().collect()}
    assert {"extract", "mentions", "link", "triples_raw", "canonicalize", "triples", "materialize"} <= stages
    metrics = {r["metric"] for r in p.cat.read("_metrics").select("metric").distinct().collect()}
    assert "wall_sec" in metrics and "cc_iterations" in metrics
    # pages_text is one url-hash file per shuffle partition at most
    n_extract = p.cat.read("_lineage").filter(F.col("stage") == "extract").count()
    assert 0 < n_extract <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert p.cat.read("_metrics").schema.simpleString() == (
        "struct<stage:string,metric:string,value:double,ts:timestamp>"
    )
    assert p.cat.read("_lineage").schema.simpleString() == (
        "struct<stage:string,partition_id:int,rows:bigint,ts:timestamp>"
    )
    # materialized graph mirrors the vertex/edge contract
    verts = p.cat.read("kg_vertices")
    edges = p.cat.read("kg_edges")
    assert "_key" in verts.columns
    assert {"_from", "_to", "pred"} <= set(edges.columns)
    assert edges.filter(~F.col("_from").startswith("vertices/")).count() == 0


@pytest.mark.parametrize("smart", [False, True], ids=["plain", "smart"])
def test_graph_edges_point_at_vertices(spark, smart):
    """Every edge end is the ``_id`` ('<coll>/<_key>') of some vertex,
    with smart keys ('<smart>:<key>') as with plain ones."""
    triples = spark.createDataFrame(
        [("u1", "ent_1", "p", "ent_2", 1), ("u2", "ent_2", "q", "ent_3", 2)],
        "url string, subj string, pred string, obj string, warc_ts long",
    )
    spec = GraphSpec(smart=smart)
    verts, edges = triples_to_graph(triples, spec)
    ids = {f"{spec.vertices_coll}/{r['_key']}" for r in verts.collect()}
    ends = {r[c] for r in edges.collect() for c in ("_from", "_to")}
    assert len(ids) == 3 and ends == ids


def test_resume_skips_and_is_idempotent(spark, warehouse):
    pages, _, aliases = synth.corpus(spark, n_pages=40, n_entities=15)
    cfg = PipelineConfig(warehouse=warehouse, graph=GraphSpec(name="kg", overwrite=True))
    p = Pipeline(spark, cfg)
    p.run(pages, aliases)
    first = sorted(map(tuple, p.triples().select("subj", "pred", "obj", "url").collect()))
    first_edges = sorted(map(tuple, p.cat.read("kg_edges").collect()), key=repr)
    snaps_before = len(p.cat.snapshots("pages_text"))

    # resume over a complete run: every stage skipped (no new snapshots)
    p2 = Pipeline(spark, cfg)
    p2.run(pages, aliases, resume=True)
    assert len(p2.cat.snapshots("pages_text")) == snaps_before
    second = sorted(map(tuple, p2.triples().select("subj", "pred", "obj", "url").collect()))
    assert first == second

    # simulate a mid-run kill: drop a late stage, resume rebuilds ONLY it
    p2.cat.drop("triples")
    p3 = Pipeline(spark, cfg)
    p3.run(pages, aliases, resume=True)
    assert len(p3.cat.snapshots("pages_text")) == snaps_before  # untouched
    third = sorted(map(tuple, p3.triples().select("subj", "pred", "obj", "url").collect()))
    assert first == third

    # a kill between materialize's vertex and edge commits: resume must
    # write the edges, not skip on the complete vertex table
    p3.cat.drop("kg_edges")
    p4 = Pipeline(spark, cfg)
    p4.run(pages, aliases, resume=True)
    assert len(p4.cat.snapshots("pages_text")) == snaps_before
    assert p4.cat.exists("kg_edges")
    assert sorted(map(tuple, p4.cat.read("kg_edges").collect()), key=repr) == first_edges

    # the same kill without overwrite: the graph exists only once both
    # collections committed, so the edges are still written
    p4.cat.drop("kg_edges")
    keep = PipelineConfig(warehouse=warehouse, graph=GraphSpec(name="kg", overwrite=False))
    p5 = Pipeline(spark, keep)
    p5.run(pages, aliases, resume=True)
    assert p5.cat.exists("kg_edges")
    assert sorted(map(tuple, p5.cat.read("kg_edges").collect()), key=repr) == first_edges


def test_mined_anchor_aliases_drive_the_pipeline(spark, warehouse):
    """Close the gazetteer loop: mine the alias dictionary from anchor
    text (urls.extract_anchors -> anchor_alias_candidates ->
    alias_table) instead of taking synth's table as given, feed it to
    run_pipeline, and hold the same P/R gate.  Anchors point at
    canonical entity pages (https://<entity>.kb/p) with the exact
    alias surface as anchor text, occurrences proportional to the
    synth prior."""
    from graph_importer_spark.operators import urls as _urls

    pages, gt, aliases = synth.corpus(spark, n_pages=120, n_entities=40)
    # a small "link corpus": each alias row appears round(prior*10)
    # times as <a href="https://<entity>.kb/p"><alias></a>
    reps = F.round(F.col("prior") * 10).cast("int")
    link_pages = aliases.select(
        F.concat(F.lit("https://hub.example/"), F.col("entity")).alias("url"),
        F.concat(
            F.lit("<html><body>"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), reps),
                    lambda _: F.concat(
                        F.lit('<a href="https://'),
                        F.col("entity"),
                        F.lit('.kb/p">'),
                        F.col("alias"),
                        F.lit("</a>"),
                    ),
                ),
                "",
            ),
            F.lit("</body></html>"),
        ).cast("binary").alias("html"),
    )
    anchors = _urls.extract_anchors(link_pages)
    cands = _urls.anchor_alias_candidates(
        anchors, min_count=1, normalize=False
    )
    mined = _urls.alias_table(
        cands, entity=F.regexp_extract(F.col("dst"), r"^(ent_[0-9]+)\.kb$", 1)
    )
    # the mined dictionary covers the synth gazetteer exactly
    syn = {(r["alias"], r["entity"]) for r in aliases.collect()}
    got = {(r["alias"], r["entity"]) for r in mined.collect()}
    assert got == syn
    p = run_pipeline(spark, pages, mined, warehouse)
    precision, recall = _pr(p.triples(), gt)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall
