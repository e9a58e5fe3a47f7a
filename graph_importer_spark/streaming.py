"""Incremental KG ingestion: new page files become appended triples.

The reference is batch-only (files -> DB); its only incremental
behaviour is exists-then-skip resume, which the staged build keeps as
per-stage snapshot resume (pipeline.py).  This module is the one
streaming path the KG needs, for the 'new WARC slices keep arriving'
shape of a Common-Crawl pipeline:

* ``read_pages_stream`` — file-source ``readStream`` over a directory
  of page parquet files (each new file feeds a micro-batch of pages);
* ``incremental_triples`` — applies the extract->mentions->link->
  triples plan (``_batch_triples``) to the streaming frame once, and
  its foreachBatch body appends each micro-batch's rows to the catalog;
  the stream checkpoint plus a per-batch snapshot tag give exactly-once
  per input file.

Extraction is stateless, so ``extract.with_text`` applies to a
streaming frame unchanged.  The plan is narrow: sentence splitting,
tokenization and the predicate are the build's Spark expressions, and
linking is one vectorized Arrow pass per partition that probes the
dictionary compiled to one row per surface
(``linking.compile_surfaces``), so a batch has no broadcast join, no
shuffle and one Spark job, its write.  The build reaches the same
triples through four intermediate commits, which are its resume points.
"""

from __future__ import annotations

import hashlib
import os
import threading

import pyarrow as pa
from pyspark.broadcast import Broadcast
from pyspark.errors import StreamingQueryException
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


TRIPLES_SCHEMA = "subj string, pred string, obj string, url string, warc_ts timestamp"


def _batch_triples(
    pages: DataFrame,
    dictionary: Broadcast,
    default_pred: str | None = None,
    max_alias_tokens: int | None = None,
) -> DataFrame:
    """The triples plan over ``pages``; ``dictionary`` is the broadcast
    ``linking.compile_surfaces`` of the aliases."""
    k = _mentions.MAX_ALIAS_TOKENS if max_alias_tokens is None else max_alias_tokens
    # the staged build drops a null url at its join on url; so must this
    pt = _extract.with_text(pages.filter(F.col("url").isNotNull()))
    sents = (
        _mentions.split_sentences(pt, keys=("url", "warc_ts"))
        .select(
            "url",
            "warc_ts",
            _triples.sentence_predicate(default_pred=default_pred).alias("pred"),
            _mentions.sentence_tokens().alias("tokens"),
        )
        # a sentence without a predicate never emits a triple
        .filter(F.col("pred").isNotNull())
    )

    def link(batches):
        surfaces, entities = dictionary.value
        for b in batches:
            rows, subj, obj = _linking.sentence_ends(b.column("tokens"), surfaces, entities, k)
            b = b.take(pa.array(rows, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [subj, b.column("pred"), obj, b.column("url"), b.column("warc_ts")],
                ["subj", "pred", "obj", "url", "warc_ts"],
            )

    # a map over Arrow batches emits only the sentences with a triple; a
    # filter on a UDF's output would be pushed below it and run it twice
    return sents.mapInArrow(link, TRIPLES_SCHEMA)


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

    The plan is built once, over the stream, and has no exchange:
    extraction runs once per page; each sentence carries its url,
    warc_ts and predicate, and one without a predicate is dropped before
    tokenization; one ``mapInArrow`` pass links its tokens against the
    dictionary, compiled once per call, broadcast once and destroyed when
    the query terminates (``linking.kept_mentions``: longest match per
    position, top-1 by prior then entity, the overlap rule), and emits
    the first and last kept mention as subj and obj
    (``linking.sentence_ends``).  A batch's only job is its append.  The
    output is a function of each page row alone: a page that arrives
    twice emits its triples twice, in the same batch or a later one.
    With one page per url it equals the staged build's ``triples_raw``
    on the same pages (a page with a null url emits nothing in either).

    Returns the StreamingQuery; with ``available_now`` the caller can
    ``awaitTermination()`` for drain-and-stop semantics.
    """
    # compiled once per call and shipped once per Python worker: the
    # worker caches a broadcast's value, and with it the Index's hash
    # table, across tasks and batches
    dictionary = spark.sparkContext.broadcast(_linking.compile_surfaces(aliases))
    stream = _batch_triples(
        read_pages_stream(spark, pages_path, max_files_per_trigger),
        dictionary,
        default_pred,
        max_alias_tokens,
    )
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
        catalog.append(table, batch_df.withColumn("batch_id", F.lit(batch_id)), tag=tag)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    try:
        query = writer.start()
    except BaseException:
        dictionary.destroy()
        raise
    _release_on_termination(query, dictionary)
    return query


def _release_on_termination(query, dictionary: Broadcast) -> None:
    """Destroy ``dictionary`` (its JVM blocks and the Spark driver's pickled
    file) once ``query`` terminates, from a daemon thread that waits on
    the query: the batches pay nothing for it."""

    def wait() -> None:
        try:
            query.awaitTermination()
        except StreamingQueryException:
            pass  # the caller sees the failure through its own handle
        finally:
            dictionary.destroy()

    threading.Thread(target=wait, name=f"release-{query.id}", daemon=True).start()
