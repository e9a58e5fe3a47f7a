"""End-to-end staged KG-construction pipeline with lineage + resume.

Stage graph (seven stages; each commits one catalog table, materialize
two, and may run several Spark jobs: a traced ``build_entity_dense``
build runs 27 jobs in all):

  pages ──extract──> pages_text ──mentions──> mentions ──link──> linked
        ──triples──> triples_raw ──canonicalize──> canonical_map, triples
        ──materialize──> <g>_vertices, <g>_edges

canonicalize contracts the surface<->entity graph to its entity side
(one merge edge per extra entity of a shared surface) and runs CC only
over those edges; with none, the map is the identity and no CC job runs.

Per north rule: every stage writes per-partition lineage rows
(_lineage) and stage metrics (_metrics); stage completion is a snapshot
tag so ``run_pipeline(resume=True)`` skips finished stages — the Spark
restatement of the reference's exists-and-not-overwrite => skip guard
(graphalytics_importer.py:168-175; observability analogue of its tqdm +
wall-clock prints, importer.py:61-71, and Pregel status polling,
start_Pregel.py:123-164).

Resume is idempotent by construction: every stage output is written
create_or_replace (never blind append), so a re-run after a mid-stage
kill rewrites that stage atomically (SURVEY.md §7 hard part 5).

Skew handling (north rule: explicit): the corpus is repartitioned by
xxhash64(url) up front — provenance keys are uniform even when entity
keys are power-law — and every entity-keyed stage downstream relies on
map-side partial aggregation + AQE skew-join (see cc.py docstring).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_importer_spark import cc as _cc
from graph_importer_spark.operators import ids as _ids
from graph_importer_spark import extract as _extract
from graph_importer_spark import linking as _linking
from graph_importer_spark import mentions as _mentions
from graph_importer_spark import triples as _triples
from graph_importer_spark.materialize import (
    GraphSpec,
    edge_table_name,
    materialize_graph,
    triples_to_graph,
    vertex_table_name,
)
from graph_importer_spark.tables import GraphCatalog

LINEAGE_TABLE = "_lineage"
METRICS_TABLE = "_metrics"
_METRICS_SCHEMA = pa.schema(
    [("stage", pa.string()), ("metric", pa.string()), ("value", pa.float64())]
)
_LINEAGE_SCHEMA = pa.schema(
    [("stage", pa.string()), ("partition_id", pa.int32()), ("rows", pa.int64())]
)


@dataclass
class PipelineConfig:
    warehouse: str
    graph: GraphSpec = field(default_factory=lambda: GraphSpec(name="kg", overwrite=True))
    lang: str = "en"
    max_cc_iter: int = 30
    # above this many merge edges (entity pairs joined by a shared
    # surface — the graph CC actually receives), canonicalization
    # switches from xxhash64 node ids (zero extra shuffles, collision
    # budget n^2/2^65) to the collision-free dense-id dictionary
    # (operators/ids.py) — the 10^12 design point of SCALE.md
    dense_id_threshold: int = 50_000_000
    # above this many canonical-map rows the triples rewrite joins
    # plainly (AQE skew-join) instead of force-broadcasting the map:
    # at the 10^12 design point the entity dictionary is 10^8-10^9 rows,
    # far over any broadcast threshold
    broadcast_map_rows: int = 2_000_000
    # at or below this many merge edges CC runs in ONE task (union-find
    # over the whole edge list) instead of the large/small-star loop
    # fanning a few thousand rows across the full shuffle width — the
    # per-round scheduling latency dominates small graphs (same gate as
    # dedup.dup_clusters).  Merge edges come only from surfaces shared
    # between entities, so alias dictionaries, not corpora, bound them
    small_cc_rows: int = 200_000


class Pipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.cat = GraphCatalog(spark, cfg.warehouse)
        self._metric_buf: list[tuple[str, str, float]] = []
        self._lineage_buf: list[tuple[str, int, int]] = []

    # -- observability ---------------------------------------------------
    # Buffered: per-stage rows accumulate driver-side and flush as ONE
    # append each at the end of run() — a per-metric append would cost a
    # full write job per data point (the reference pays the analogous
    # price with per-bulk HTTP progress calls; we don't).
    def _lineage(self, stage: str, table: str) -> None:
        """Per-partition row counts of the stage output (north-rule
        lineage contract; the columnar analogue of the reference's
        per-bulk progress bars, graphalytics_importer.py:83-90).
        Counts come from the parquet footers the stage just wrote —
        driver-side metadata, zero extra Spark jobs (the Iceberg
        manifest's record_count on a real catalog)."""
        for i, (_fn, n) in enumerate(self.cat.file_row_counts(table)):
            self._lineage_buf.append((stage, i, int(n)))

    def _metric(self, stage: str, name: str, value: float) -> None:
        self._metric_buf.append((stage, name, float(value)))

    def _flush_observability(self) -> None:
        # rows cross to the JVM as one Arrow table, not pickled one by one
        for table, buf, schema in (
            (METRICS_TABLE, self._metric_buf, _METRICS_SCHEMA),
            (LINEAGE_TABLE, self._lineage_buf, _LINEAGE_SCHEMA),
        ):
            if buf:
                cols = [pa.array(c, t) for c, t in zip(zip(*buf), schema.types)]
                rows = pa.Table.from_arrays(cols, schema=schema)
                self.cat.append(
                    table,
                    self.spark.createDataFrame(rows).withColumn("ts", F.current_timestamp()),
                )
        self._metric_buf, self._lineage_buf = [], []

    def _run_stage(self, stage: str, table: str, fn, resume: bool, **write_kw) -> None:
        if resume and self.cat.exists(table) and self.cat.has_tag(table, "complete"):
            return
        t0 = time.monotonic()
        df = fn()
        self.cat.create_or_replace(table, df, tag="complete", **write_kw)
        self._metric(stage, "wall_sec", time.monotonic() - t0)
        self._lineage(stage, table)

    # -- stages ------------------------------------------------------------
    def run(self, pages: DataFrame, aliases: DataFrame, resume: bool = False) -> None:
        cfg, cat = self.cfg, self.cat
        # the session sizes its shuffle width to the cluster; each url-hash
        # partition is one pages_text file and one write task
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))

        def s_extract():
            # Extraction runs on the INPUT SPLITS (narrow — parquet is
            # splittable, maxPartitionBytes bounds each task), and the
            # explicit url-hash repartition (north rule) happens on the
            # EXTRACTED text: same uniform layout + write clustering,
            # but the shuffle carries ~15x less than raw html would.
            # html dies here — no downstream stage ever moves raw bytes.
            p = pages.filter(F.col("lang") == cfg.lang) if cfg.lang else pages
            return (
                _extract.with_text(p)
                .drop("html")
                .repartition(nparts, F.xxhash64("url"))
            )

        self._run_stage("extract", "pages_text", s_extract, resume)

        def s_mentions():
            return _mentions.detect_mentions(cat.read("pages_text"), aliases)

        self._run_stage("mentions", "mentions", s_mentions, resume)

        def s_link():
            return _linking.link_mentions(cat.read("mentions"), aliases)

        self._run_stage("link", "linked", s_link, resume)

        def s_triples_raw():
            pt = cat.read("pages_text")
            sents = _mentions.split_sentences(pt)
            return _triples.extract_triples(cat.read("linked"), sents, pt)

        self._run_stage("triples_raw", "triples_raw", s_triples_raw, resume)

        def s_canonical_map():
            return self._canonical_map(cat.read("linked"))

        self._run_stage("canonicalize", "canonical_map", s_canonical_map, resume)

        def s_triples():
            cmap = cat.read("canonical_map")
            t = cat.read("triples_raw")
            # size-gate the broadcast from the parquet footers the
            # canonicalize stage just wrote (driver-side metadata, no
            # job): a 10^8-row entity dictionary must NOT be broadcast —
            # fall back to a plain equi-join (AQE skew-join is on).
            n_map = sum(n for _, n in cat.file_row_counts("canonical_map"))
            hint = F.broadcast if n_map <= self.cfg.broadcast_map_rows else (lambda d: d)
            self._metric("triples", "canonical_map_rows", n_map)
            self._metric("triples", "canonical_map_broadcast", int(n_map <= self.cfg.broadcast_map_rows))
            smap = cmap.select(
                F.col("entity").alias("subj_e"), F.col("canonical").alias("subj_c")
            )
            omap = cmap.select(
                F.col("entity").alias("obj_e"), F.col("canonical").alias("obj_c")
            )
            t = (
                t.join(hint(smap), t.subj == smap.subj_e, "left")
                .join(hint(omap), t.obj == omap.obj_e, "left")
            )
            return t.select(
                F.coalesce("subj_c", "subj").alias("subj"),
                "pred",
                F.coalesce("obj_c", "obj").alias("obj"),
                "url",
                "warc_ts",
            )

        self._run_stage("triples", "triples", s_triples, resume)

        # materialize commits vertices, then edges: a kill between the two
        # commits leaves complete vertices and no edges, so resume checks both
        vt, et = vertex_table_name(cfg.graph), edge_table_name(cfg.graph)
        if not (resume and all(cat.exists(t) and cat.has_tag(t, "complete") for t in (vt, et))):
            t0 = time.monotonic()
            verts, edges = triples_to_graph(cat.read("triples"), cfg.graph)
            materialize_graph(cat, cfg.graph, verts, edges)
            self._metric("materialize", "wall_sec", time.monotonic() - t0)
            self._lineage("materialize", vt)
        self._flush_observability()

    def _canonical_map(self, linked: DataFrame) -> DataFrame:
        """Components of the surface<->entity bipartite graph, contracted
        to its entity side: alias variants that (transitively) link to
        the same entity collapse into one component; canonical id = min
        entity id in the component.

        Returns (entity, canonical). This is the reference's
        'connectedcomponents'/'wcc' Pregel surface (arguments.py:182-184)
        run natively as the canonicalization stage.

        Two entities share a bipartite component iff a chain of shared
        surfaces joins them, so linking every entity of a surface to
        that surface's smallest entity (a "merge edge") keeps exactly
        the same entity components. CC runs over the merge edges only:
        a surface with one entity — every surface of a functional
        linker, however many aliases a hub entity has — adds no edge.
        With no merge edge every component is a singleton and CC is
        not called.

        Node-id strategy is size-gated on the merge-edge count:
        xxhash64 entity ids (zero extra shuffles) up to
        cfg.dense_id_threshold, the collision-free dense-id dictionary
        (operators/ids.connected_components_dense) above it — at 10^12
        documents the entity vocabulary makes the n^2/2^65 collision
        budget real, and one silent hash collision merges two unrelated
        entities forever.
        """
        from pyspark.sql import Observation

        obs = Observation()
        groups = (
            linked.groupBy("surface")
            .agg(F.collect_set("entity").alias("es"))
            .observe(
                obs,
                F.sum(F.size("es")).alias("pairs"),
                F.sum(F.size("es") - 1).alias("merge_edges"),
            )
            .localCheckpoint(eager=True)
        )
        # both counts ride the checkpoint job — no count job
        n_pairs = int(obs.get["pairs"] or 0)
        n_edges = int(obs.get["merge_edges"] or 0)
        ents = groups.select(F.explode("es").alias("entity")).distinct()
        it_metrics: list[tuple[int, int]] = []
        hook = lambda i, n: it_metrics.append((i, n))  # noqa: E731
        use_dense = n_edges > self.cfg.dense_id_threshold
        if n_edges == 0:
            out = ents.select("entity", F.col("entity").alias("canonical"))
        else:
            edges = (
                groups.filter(F.size("es") > 1)
                .select(F.array_min("es").alias("src"), F.explode("es").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
            )
            if use_dense:
                named = _ids.connected_components_dense(
                    edges, max_iter=self.cfg.max_cc_iter, on_iteration=hook
                ).select(F.col("name").alias("entity"), "canonical")
            else:
                labels = _cc.connected_components(
                    edges.select(
                        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
                    ),
                    max_iter=self.cfg.max_cc_iter,
                    on_iteration=hook,
                    single_task=n_edges <= self.cfg.small_cc_rows,
                )
                ent_labels = ents.join(
                    labels, F.xxhash64(ents.entity) == labels.id
                ).select("entity", "component")
                canon = ent_labels.groupBy("component").agg(
                    F.min("entity").alias("canonical")
                )
                named = ent_labels.join(canon, "component").select("entity", "canonical")
            # entities on no merge edge are their own component
            out = ents.join(named, "entity", "left").select(
                "entity", F.coalesce("canonical", "entity").alias("canonical")
            )
        for i, n in it_metrics:
            self._metric("canonicalize", f"cc_iter_{i}_edges", n)
        self._metric("canonicalize", "cc_iterations", len(it_metrics))
        self._metric("canonicalize", "cc_pairs", n_pairs)
        self._metric("canonicalize", "cc_merge_edges", n_edges)
        self._metric("canonicalize", "cc_dense_ids", int(use_dense))
        return out

    # -- read-back ---------------------------------------------------------
    def triples(self) -> DataFrame:
        return self.cat.read("triples")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    warehouse: str,
    resume: bool = False,
    graph: GraphSpec | None = None,
    **cfg_overrides,
) -> Pipeline:
    cfg = PipelineConfig(warehouse=warehouse, **cfg_overrides)
    if graph is not None:
        cfg.graph = graph
    p = Pipeline(spark, cfg)
    p.run(pages, aliases, resume=resume)
    return p
