"""Graphalytics-format importer (reference parity, Spark execution).

Reference lifecycle (graphalytics_importer.py:147-175):
  resolve <dir>/<base>.v/.e/.properties -> guard exists/overwrite ->
  create graph -> vertices pass -> edges pass.

Parse semantics preserved exactly:
* vertices: one id per line, stored stringly; doc = {smart: str(vid),
  _key: 'vid:vid'} (graphalytics_importer.py:87);
* edges: 'src dst [weight]' split on single space max 3 fields — the
  weight token is the VERBATIM remainder (may itself contain spaces:
  ``line.split(' ', 2)``, graphalytics_importer.py:117);
  missing weight => SQL NULL (":120 'Null will be inserted'");
  weight stored as string, no numeric cast (":123 f'{w}'");
* comment lines start '#', '/', '%' (":115");
* _from/_to = '<vcoll>/<id>:<id>' smart format (ConverterToVertex
  .idx_to_smart_vertex, vertices_generator.py:153-157);
* .properties counts via '.vertices = N' / '.edges = N' markers
  (graphalytics_importer.py:26-46) — tiny metadata file, read on the
  driver (cheaper than a count() job; SURVEY.md §4 prefetch row).

Execution: the reference streams bulks of 10k lines through Python
dicts + HTTP POSTs; here each file is ONE distributed scan ->
projection -> write, no driver loop. Batching is Spark partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_importer_spark.importer.keys import (
    graphalytics_vertex_doc,
    idx_to_smart_vertex,
)
from graph_importer_spark.materialize import GraphSpec, materialize_graph
from graph_importer_spark.tables import GraphCatalog

_COMMENT_RE = r"^[#/%]"


def graphalytics_files(directory: str) -> tuple[str, str, str]:
    """<d>/<basename>.v, .e, .properties — graphalytics_importer.py:12-23."""
    base = os.path.basename(os.path.normpath(directory))
    return (
        os.path.join(directory, base + ".v"),
        os.path.join(directory, base + ".e"),
        os.path.join(directory, base + ".properties"),
    )


def get_property_graphalytics(properties_filename: str, prop: str) -> int:
    """'.vertices = N' / '.edges = N' — graphalytics_importer.py:26-46."""
    marker = {"num_vertices": ".vertices = ", "num_edges": ".edges = "}.get(prop)
    if marker is None:
        raise RuntimeError(f"Cannot get property {prop} from {properties_filename}.")
    with open(properties_filename) as f:
        for line in f:
            if marker in line:
                return int(line.split(marker, 1)[1].strip())
    raise RuntimeError(f"{marker!r} not found in {properties_filename}")


def _lines(spark: SparkSession, path: str) -> DataFrame:
    """file_reader parity (general.py:139-155): strip each line, drop
    empties (blank lines would IndexError the reference's i[0] check —
    treated as skip here)."""
    return (
        spark.read.text(path)
        .select(F.trim("value").alias("line"))
        .filter(F.length("line") > 0)
    )


def read_graphalytics_vertices(
    spark: SparkSession, path: str, smart_attribute: str = "smartProp"
) -> DataFrame:
    """.v file -> (smart_attribute, _key) vertex docs."""
    return _lines(spark, path).select(
        *graphalytics_vertex_doc(F.col("line"), smart_attribute)
    )


def parse_edges(lines: DataFrame, vertices_coll: str, smart: bool = True) -> DataFrame:
    """Edge lines -> (_from, _to, weight nullable string).

    split(' ', 2) parity: F.split with limit=3; weight = third token
    verbatim or NULL.
    """
    no_comments = lines.filter(~F.col("line").rlike(_COMMENT_RE))
    parts = no_comments.select(F.split("line", " ", 3).alias("p"))
    f_, t_ = F.col("p")[0], F.col("p")[1]
    if smart:
        from_c = idx_to_smart_vertex(vertices_coll, f_)
        to_c = idx_to_smart_vertex(vertices_coll, t_)
    else:
        from_c = F.concat(F.lit(vertices_coll + "/"), f_)
        to_c = F.concat(F.lit(vertices_coll + "/"), t_)
    return parts.select(
        from_c.alias("_from"),
        to_c.alias("_to"),
        F.when(F.size("p") >= 3, F.col("p")[2]).otherwise(F.lit(None)).alias("weight"),
    )


def read_graphalytics_edges(
    spark: SparkSession, path: str, vertices_coll: str = "vertices"
) -> DataFrame:
    return parse_edges(_lines(spark, path), vertices_coll, smart=True)


def import_graphalytics(
    spark: SparkSession,
    cat: GraphCatalog,
    directory: str,
    spec: GraphSpec | None = None,
) -> bool:
    """Full import under the exists/overwrite contract
    (graphalytics_importer.py:168-175). Returns False if skipped.
    Cross-checks loaded counts against .properties (the reference's
    implicit oracle, SURVEY.md §5)."""
    spec = spec or GraphSpec(name="importedGraph", smart=True)
    vf, ef, pf = graphalytics_files(directory)
    verts = read_graphalytics_vertices(spark, vf, spec.smart_attribute)
    edges = read_graphalytics_edges(spark, ef, spec.vertices_coll)
    written = materialize_graph(cat, spec, verts, edges)
    if written and os.path.exists(pf):
        exp_v = get_property_graphalytics(pf, "num_vertices")
        exp_e = get_property_graphalytics(pf, "num_edges")
        got_v = cat.read(f"{spec.name}_{spec.vertices_coll}").count()
        got_e = cat.read(f"{spec.name}_{spec.edges_coll}").count()
        if (got_v, got_e) != (exp_v, exp_e):
            raise RuntimeError(
                f"count mismatch vs .properties: vertices {got_v}!={exp_v}, "
                f"edges {got_e}!={exp_e}"
            )
    return written


def parse_edges_quarantine(
    lines: DataFrame, vertices_coll: str, smart: bool = True
) -> DataFrame:
    """Dead-letter variant of ``parse_edges``: every input line is
    accounted for — parsed into an edge, dropped as a comment, or
    QUARANTINED with a reason instead of silently vanishing (the
    reference raises midway through a bulk on malformed input,
    general.py:118-119, losing the rest of the batch; a 10^12-row
    import needs the bad rows routed, not fatal).

    Reasons: ``blank`` (empty after trim), ``too_few_tokens`` (< 2),
    ``bad_id`` (either endpoint not a natural number — the
    Graphalytics id contract, README.md:81-89).

    -> (line, status, reason, _from, _to, weight): status in
    {ok, comment, quarantined}; edge columns NULL except on ok rows.

    Scale shape: one pass of pure codegen CASE logic, zero shuffle;
    writers split the stream with two pushdown-able status filters.
    """
    t = F.trim(F.col("line"))
    p = F.split(t, " ", 3)
    f_, t_ = F.element_at(p, 1), F.element_at(p, 2)
    is_comment = F.col("line").rlike(_COMMENT_RE)
    is_blank = F.length(t) == 0
    too_few = F.size(p) < 2
    nat = r"^[0-9]+$"
    bad_id = ~f_.rlike(nat) | ~t_.rlike(nat)
    status = (
        F.when(is_comment, F.lit("comment"))
        .when(is_blank | too_few | bad_id, F.lit("quarantined"))
        .otherwise(F.lit("ok"))
    )
    reason = F.when(is_blank, F.lit("blank")).when(
        too_few, F.lit("too_few_tokens")
    ).when(bad_id & ~is_comment, F.lit("bad_id"))
    if smart:
        from_c = idx_to_smart_vertex(vertices_coll, f_)
        to_c = idx_to_smart_vertex(vertices_coll, t_)
    else:
        from_c = F.concat(F.lit(vertices_coll + "/"), f_)
        to_c = F.concat(F.lit(vertices_coll + "/"), t_)
    ok = status == "ok"
    return lines.select(
        "line",
        status.alias("status"),
        F.when(status == "quarantined", reason).alias("reason"),
        F.when(ok, from_c).alias("_from"),
        F.when(ok, to_c).alias("_to"),
        F.when(
            ok & (F.size(p) >= 3), F.element_at(p, 3)
        ).alias("weight"),
    )
