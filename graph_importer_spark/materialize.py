"""Materialization into vertex/edge tables mirroring the reference's
ArangoDB vertex-collection / edge-collection output contract.

Contract being mirrored (SURVEY.md §1.2):
* graph = (<g>_vertices, <g>_edges) + metadata — creation payload
  general.py:70-104 (numberOfShards, replicationFactor, smart options);
* overwrite => drop-then-create; exists-and-not-overwrite => skip the
  whole materialization (graphalytics_importer.py:168-175), where the
  graph exists once both collections committed;
* smart key format '<smartValue>:<key>' (vertices_generator.py:153-157,
  graphalytics_importer.py:87); plain key = '<key>';
* ``_id`` / ``_from`` / ``_to`` format '<collection>/<key>'
  (vertices_generator.py:159-160);
* edge attribute (weight / predicate) stored as nullable STRING verbatim
  — absent => null (graphalytics_importer.py:120-123, edge_list.py:31).

num_shards maps to bucket(num_shards, _key) clustering so vertex<->edge
equi-joins on key can be co-located (the Spark analogue of ArangoDB
smart-graph sharding).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_importer_spark.tables import GraphCatalog


@dataclass
class GraphSpec:
    """Reference defaults: arguments.py:15,32-34,40-43 + README.md:125-129."""

    name: str = "importedGraph"
    vertices_coll: str = "vertices"
    edges_coll: str = "edges"
    num_shards: int = 5
    replication_factor: int = 2
    smart: bool = False
    smart_attribute: str = "smartProp"
    overwrite: bool = False


def smart_key(smart_value, key) -> F.Column:
    """'<smartValue>:<key>' — vertices_generator.py:153-157."""
    return F.concat_ws(":", smart_value.cast("string"), key.cast("string"))


def doc_id(coll: str, key) -> F.Column:
    """'<coll>/<key>' — vertices_generator.py:159-160."""
    return F.concat(F.lit(coll + "/"), key.cast("string"))


def vertex_table_name(spec: GraphSpec) -> str:
    return f"{spec.name}_{spec.vertices_coll}"


def edge_table_name(spec: GraphSpec) -> str:
    return f"{spec.name}_{spec.edges_coll}"


def materialize_graph(
    cat: GraphCatalog,
    spec: GraphSpec,
    vertices: DataFrame,
    edges: DataFrame,
) -> bool:
    """Write both collections under the overwrite/skip contract.

    Returns True if written, False if skipped (graph existed and
    overwrite not set — the reference prints 'Graph ... already exists,
    skipping' and returns, graphalytics_importer.py:168-172).  The graph
    exists only when both collections carry the ``complete`` tag: the
    vertices commit first, so a kill between the two commits leaves a
    graph that is rewritten, not skipped.

    ``vertices`` must carry ``_key`` (+ smart attr column when smart);
    ``edges`` must carry ``_from``/``_to`` (+ attribute columns).
    """
    vt, et = vertex_table_name(spec), edge_table_name(spec)
    if not spec.overwrite and all(
        cat.exists(t) and cat.has_tag(t, "complete") for t in (vt, et)
    ):
        return False
    props = {
        "numberOfShards": spec.num_shards,
        "replicationFactor": spec.replication_factor,
        "isSmart": spec.smart,
        "smartGraphAttribute": spec.smart_attribute if spec.smart else None,
        "graph": spec.name,
    }
    cat.create_or_replace(
        vt, vertices, bucket_by=(spec.num_shards, "_key"), properties=props,
        tag="complete",
    )
    cat.create_or_replace(
        et, edges, bucket_by=(spec.num_shards, "_from"), properties=props,
        tag="complete",
    )
    return True


def triples_to_graph(
    triples: DataFrame, spec: GraphSpec
) -> tuple[DataFrame, DataFrame]:
    """Canonical triples -> (vertices, edges) in the output contract.

    Vertex _key = canonical entity id; smart attribute = entity stem
    (routing hint). Edge attribute = predicate (string), provenance kept.
    Edge ends are vertex ``_id``s: '<coll>/<smart>:<key>' in a smart
    graph, as the importers' ``idx_to_smart_vertex`` builds them.
    """
    vcoll = spec.vertices_coll
    key = (lambda c: smart_key(c, c)) if spec.smart else (lambda c: c)
    verts = (
        triples.select(F.col("subj").alias("_key"))
        .unionByName(triples.select(F.col("obj").alias("_key")))
        .distinct()
        .withColumn(spec.smart_attribute, F.col("_key"))
    )
    if spec.smart:
        verts = verts.withColumn(
            "_key", smart_key(F.col(spec.smart_attribute), F.col("_key"))
        )
    edges = triples.select(
        doc_id(vcoll, key(F.col("subj"))).alias("_from"),
        doc_id(vcoll, key(F.col("obj"))).alias("_to"),
        F.col("pred").cast("string").alias("pred"),
        "url",
        "warc_ts",
    )
    return verts, edges
