"""Incremental KG ingestion: ``incremental_triples`` appends each new
page file's triples exactly once and equals the staged build on the
same pages; extraction on a streaming frame equals batch extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_importer_spark import synth
from graph_importer_spark.streaming import (
    incremental_triples,
    read_pages_stream,
)
from graph_importer_spark.tables import GraphCatalog


def _write_pages(spark, path, lo, hi, n_entities=20):
    pages, _, aliases = synth.corpus(spark, n_pages=hi, n_entities=n_entities)
    part = pages.filter(
        F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long").between(lo, hi - 1)
    )
    part.coalesce(1).write.mode("append").parquet(path)
    return aliases


COOC_URL = "http://edge.test/cooccurs"


def _write_edge_pages(spark, path):
    """Two pages the synth corpus lacks: two mentions with no predicate
    phrase (a triple only under ``default_pred``), and a null url (no
    triple at all: the staged build loses it at its join on url)."""
    import datetime

    from graph_importer_spark.streaming import PAGES_SCHEMA

    ts = datetime.datetime(2026, 2, 1)
    rows = [
        (COOC_URL, ts, b"<p>Acme0 met Globex1 Corp in Berlin.</p>", None, "en"),
        (None, ts, b"<p>Stark3 acquired Wayne4.</p>", None, "en"),
    ]
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _rows(df):
    rows = df.select("url", "subj", "pred", "obj", "warc_ts").collect()
    return sorted(map(tuple, rows), key=repr)


def test_incremental_exactly_once_per_file(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    cat = GraphCatalog(spark, str(tmp_path / "wh"))

    aliases = _write_pages(spark, pages_dir, 0, 30)
    _write_edge_pages(spark, pages_dir)
    q = incremental_triples(spark, pages_dir, aliases, cat, "triples_s", ckpt)
    q.awaitTermination(120)
    n1 = cat.read("triples_s").count()
    assert n1 > 0

    # restart with NO new files: checkpoint prevents reprocessing
    q = incremental_triples(spark, pages_dir, aliases, cat, "triples_s", ckpt)
    q.awaitTermination(120)
    assert cat.read("triples_s").count() == n1

    # new file arrives -> only the delta is processed (appended)
    _write_pages(spark, pages_dir, 30, 60)
    q = incremental_triples(spark, pages_dir, aliases, cat, "triples_s", ckpt)
    q.awaitTermination(120)
    n2 = cat.read("triples_s").count()
    assert n2 > n1

    # incremental union == the staged build's triples_raw on the same pages
    from graph_importer_spark.pipeline import run_pipeline

    pages = spark.read.parquet(pages_dir)
    build = run_pipeline(spark, pages, aliases, str(tmp_path / "build"), lang=None)
    want = _rows(build.cat.read("triples_raw"))
    got = _rows(cat.read("triples_s"))
    assert got == want
    assert None not in {r[0] for r in got} and COOC_URL not in {r[0] for r in got}

    # the stream_incremental_triples contract row's configuration, which
    # run_pipeline does not expose: compare with the build's own stage
    # functions, composed as its stages compose them
    from graph_importer_spark.extract import with_text
    from graph_importer_spark.linking import link_mentions
    from graph_importer_spark.mentions import detect_mentions, split_sentences
    from graph_importer_spark.triples import extract_triples

    q = incremental_triples(
        spark,
        pages_dir,
        aliases,
        cat,
        "triples_c",
        str(tmp_path / "ckpt_c"),
        default_pred="cooccurs_with",
        max_alias_tokens=1,
    )
    q.awaitTermination(120)
    pt = with_text(pages)
    linked = link_mentions(detect_mentions(pt, aliases, max_alias_tokens=1), aliases)
    want = _rows(
        extract_triples(linked, split_sentences(pt), pt, default_pred="cooccurs_with")
    )
    got = _rows(cat.read("triples_c"))
    assert got == want
    cooc = [r[1:4] for r in got if r[0] == COOC_URL]
    assert cooc == [("ent_0", "cooccurs_with", "ent_1")]
    assert None not in {r[0] for r in got}


def test_two_checkpoints_append_to_one_table(spark, tmp_path):
    """Batch ids restart at 0 for every checkpoint: a second stream
    appending to the same table is not a replay of the first."""
    cat = GraphCatalog(spark, str(tmp_path / "wh"))
    src1, src2 = str(tmp_path / "pages1"), str(tmp_path / "pages2")
    aliases = _write_pages(spark, src1, 0, 30)
    _write_pages(spark, src2, 30, 60)

    def drain(src, table, ckpt):
        q = incremental_triples(spark, src, aliases, cat, table, str(tmp_path / ckpt))
        q.awaitTermination(120)
        return _rows(cat.read(table))

    first = drain(src1, "triples_u", "ckpt1")
    second = drain(src2, "triples_2", "ckpt2_alone")
    assert first and second
    assert drain(src2, "triples_u", "ckpt2") == sorted(first + second, key=repr)


def test_streaming_extract_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    _write_pages(spark, pages_dir, 0, 25)
    from graph_importer_spark.extract import with_text

    stream = with_text(read_pages_stream(spark, pages_dir))
    assert stream.isStreaming
    out_dir = str(tmp_path / "out")
    q = (
        stream.select("url", "text")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["url"]: r["text"] for r in spark.read.parquet(out_dir).collect()}
    want = {
        r["url"]: r["text"]
        for r in with_text(spark.read.parquet(pages_dir)).select("url", "text").collect()
    }
    assert got == want


def test_finished_streams_release_their_dictionary(spark, tmp_path):
    """Each call broadcasts its compiled dictionary, whose pickled copy
    is a file in the Spark driver's temp dir; a terminated query's broadcast
    is destroyed, and a stream still running keeps linking."""
    import gc
    import os
    import time

    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))

    def new_files(n):
        deadline = time.monotonic() + 60
        while True:
            gc.collect()
            left = set(os.listdir(temp_dir)) - before
            if len(left) <= n or time.monotonic() > deadline:
                return left
            time.sleep(0.2)

    cat = GraphCatalog(spark, str(tmp_path / "wh"))
    src, live_src = str(tmp_path / "pages"), str(tmp_path / "live")
    aliases = _write_pages(spark, src, 0, 30)
    _write_pages(spark, live_src, 30, 45)
    live = incremental_triples(
        spark, live_src, aliases, cat, "triples_live", str(tmp_path / "ckpt_live"),
        available_now=False,
    )
    try:
        live.processAllAvailable()
        for i in range(3):
            q = incremental_triples(
                spark, src, aliases, cat, f"triples_{i}", str(tmp_path / f"ckpt{i}")
            )
            q.awaitTermination(120)
        assert len(new_files(1)) == 1  # the running stream's dictionary
        _write_pages(spark, live_src, 45, 60)
        live.processAllAvailable()
    finally:
        live.stop()
    assert new_files(0) == set()
    q = incremental_triples(spark, live_src, aliases, cat, "triples_check", str(tmp_path / "ck"))
    q.awaitTermination(120)
    got = _rows(cat.read("triples_live"))
    assert got and got == _rows(cat.read("triples_check"))
    assert _rows(cat.read("triples_0")) == _rows(cat.read("triples_2"))
