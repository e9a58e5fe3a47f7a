"""Incremental KG ingestion: new page files become appended triples.

The reference is batch-only (files -> DB); its only incremental
behaviour is exists-then-skip resume, which the staged build keeps as
per-stage snapshot resume (pipeline.py).  This module is the one
streaming path the KG needs, for the 'new WARC slices keep arriving'
shape of a Common-Crawl pipeline:

* ``read_pages_stream`` — file-source ``readStream`` over a directory
  of page parquet files (each new file feeds a micro-batch of pages);
* ``incremental_triples`` — foreachBatch driver: runs extract->
  mentions->link->triples on each micro-batch as ONE per-sentence plan
  (``_batch_triples``) and appends to the catalog; the stream
  checkpoint plus a per-batch snapshot tag give exactly-once per input
  file.

Extraction is stateless, so ``extract.with_text`` applies to a
streaming frame unchanged.  The batch reuses the build's operators —
one definition of the semantics, two execution modes — but composes
them differently: every key it groups or joins on lies inside one
sentence, so it needs one extraction pass and one shuffle where the
build commits four intermediate tables.  The build keeps its stage
commits because they are its resume points.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from graph_importer_spark import extract as _extract
from graph_importer_spark import linking as _linking
from graph_importer_spark import mentions as _mentions
from graph_importer_spark import triples as _triples
from graph_importer_spark.tables import GraphCatalog

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of pages (BASELINE input_hint schema)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _batch_triples(
    pages: DataFrame,
    aliases: DataFrame,
    default_pred: str | None = None,
    max_alias_tokens: int | None = None,
) -> DataFrame:
    k = _mentions.MAX_ALIAS_TOKENS if max_alias_tokens is None else max_alias_tokens
    keys = ["url", "warc_ts", "sent_id", "pred"]
    # the staged build drops a null url at its join on url; so must this
    pt = _extract.with_text(pages.filter(F.col("url").isNotNull()))
    sents = (
        _mentions.split_sentences(pt, keys=("url", "warc_ts"))
        .select(
            "url",
            "warc_ts",
            "sent_id",
            _triples.sentence_predicate(default_pred=default_pred).alias("pred"),
            _mentions.sentence_tokens().alias("tokens"),
        )
        # a sentence without a predicate never emits a triple
        .filter(F.col("pred").isNotNull())
    )
    cands = (
        sents.select(*keys, "tokens", F.posexplode("tokens").alias("pos", "tok"))
        .select(*keys, "pos", F.explode(_mentions.candidate_surfaces(k)).alias("c"))
        .select(*keys, "pos", "c.n_tokens", "c.surface")
    )
    return _triples.sentence_triples(_linking.best_per_position(cands, aliases, keys))


def incremental_triples(
    spark: SparkSession,
    pages_path: str,
    aliases: DataFrame,
    catalog: GraphCatalog,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
    default_pred: str | None = None,
    max_alias_tokens: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """foreachBatch incremental pipeline: each micro-batch of new page
    files runs the full extract->link->triples chain and APPENDS to
    ``table``. The stream checkpoint records consumed files, so
    restarts never reprocess a file (exactly-once per file — the
    streaming analogue of the reference's exists-then-skip,
    graphalytics_importer.py:168-175).  Several streams, each with its
    own checkpoint, may append to the same ``table``.

    A batch is one plan over sentences: extraction runs once per page;
    each sentence carries its url, warc_ts and predicate, and one
    without a predicate is dropped before tokenization; its 1..K-token
    candidate surfaces meet the alias dictionary in one broadcast inner
    join; one shuffle, grouped by sentence, feeds linking's top-1 and
    overlap rule (``linking.best_per_position``, ``non_overlapping``);
    the first and last kept mention give subj and obj.  With one page
    per url, the output equals the staged build's ``triples_raw`` on the
    same pages (a page with a null url emits nothing in either).  The
    build keeps its ``mentions``/``linked``/``triples_raw`` commits
    instead: they are its resume points, and the benchmark's trace
    checks each of them.

    Returns the StreamingQuery; with ``available_now`` the caller can
    ``awaitTermination()`` for drain-and-stop semantics.
    """
    stream = read_pages_stream(spark, pages_path, max_files_per_trigger)
    # batch ids restart at 0 for every checkpoint, so the tag names the
    # checkpoint too: another stream's batch 0 is not this one's replay
    where = checkpoint_dir if "://" in checkpoint_dir else os.path.abspath(checkpoint_dir)
    ckpt_id = hashlib.sha1(where.rstrip("/").encode()).hexdigest()[:12]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash after the catalog append
        # commits but before the stream checkpoint commits replays the
        # batch on restart.  The per-batch snapshot tag makes the body
        # idempotent — a replayed (checkpoint, batch_id) is skipped.
        # This relies on the catalog's append being ATOMIC
        # (tables.GraphCatalog.append: data visibility and the tag land
        # in one meta swap — a crash mid-append leaves an invisible
        # orphan dir, never untagged visible rows), so the
        # exactly-once-per-file claim holds end to end.
        tag = f"stream_batch_{ckpt_id}_{batch_id}"
        if catalog.exists(table) and catalog.has_tag(table, tag):
            return
        out = _batch_triples(batch_df, aliases, default_pred, max_alias_tokens).withColumn(
            "batch_id", F.lit(batch_id)
        )
        catalog.append(table, out, tag=tag)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


