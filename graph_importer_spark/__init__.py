"""graph_importer_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of arangodb/graph-importer
(reference at /root/reference, surveyed in SURVEY.md) as a staged PySpark
DataFrame job:

    pages (url, warc_ts, html, text, lang)
      -> extract   (vectorized Arrow UDF: html -> text, byte-identical per url)
      -> mentions  (gazetteer detection, broadcast alias dictionary)
      -> linking   (candidate scoring, top-1 per mention, skew-aware)
      -> triples   (canonical (subj, pred, obj) with provenance)
      -> canonicalize (large-star/small-star connected components)
      -> materialize  (vertex/edge tables mirroring the reference's
                       ArangoDB vertex-collection/edge-collection contract)

plus the reference's importer / generator / Pregel-analytics / min-cut
surface re-expressed Spark-first (graph_importer_spark.importer,
.operators.generators, .operators.analytics, .operators.flow, .cli).  The
query registry (contract.py, behind __spark_entry__.py) covers exactly
these.  The remaining .operators modules are left from an earlier generic
analytics registry and are reached only by their unit tests, apart from the
few helpers the KG path uses.

No code is copied from the reference; reference files are cited by
file:line in docstrings for behavioral parity only.
"""

__version__ = "0.1.0"

from graph_importer_spark.session import get_spark  # noqa: F401
