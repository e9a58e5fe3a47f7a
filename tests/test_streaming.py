"""Structured Streaming: incremental triples (exactly-once per file),
streaming extraction parity, watermarked windowed aggregation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from graph_importer_spark import synth
from graph_importer_spark.streaming import (
    incremental_triples,
    read_pages_stream,
    windowed_event_counts,
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


def test_streaming_extract_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    _write_pages(spark, pages_dir, 0, 25)
    from graph_importer_spark.extract import with_text
    from graph_importer_spark.streaming import extract_stream

    stream = extract_stream(read_pages_stream(spark, pages_dir))
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


def test_windowed_event_counts(spark, tmp_path):
    rows = [
        ("2026-01-01 10:05:00", "click"),
        ("2026-01-01 10:55:00", "click"),
        ("2026-01-01 11:05:00", "view"),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, "ts string, event_type string").withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string").parquet(src)
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    out = str(tmp_path / "agg_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; with a
    # single availableNow drain nothing may finalize — re-check with a
    # complete-mode in-memory sink instead for value assertions
    q2 = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert got[("2026-01-01 10:00:00", "click")] == 2
    assert got[("2026-01-01 11:00:00", "view")] == 1


def test_streaming_dedup_watermark_bounded(spark, tmp_path):
    from graph_importer_spark.streaming import streaming_dedup

    rows = [
        (0, "2026-01-01 10:00:00", "the quick brown fox"),
        (1, "2026-01-01 10:01:00", "The  quick BROWN fox"),   # normal-form dup of 0
        (2, "2026-01-01 10:02:00", "something else entirely"),
        (3, "2026-01-01 10:03:00", "the quick brown fox"),    # exact dup of 0
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, ts string, text string").withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(src)
    q = (
        streaming_dedup(stream, text_col="text", ts_col="ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    fps = [r["fp"] for r in spark.sql("SELECT fp FROM sdedup").collect()]
    # docs 0/1/3 collapse to one fingerprint; doc 2 stays
    assert len(fps) == 2 and len(set(fps)) == 2
    import hashlib

    assert hashlib.md5(b"the quick brown fox").hexdigest() in fps


def test_stateful_sessions_stream_matches_batch(spark, tmp_path, sf_dir):
    """applyInPandasWithState sessionization, fed the events table in 2
    time-ordered files (maxFilesPerTrigger=1 -> state genuinely carries
    across micro-batches), equals the batch lag-window sessionization."""
    import os
    import uuid

    from graph_importer_spark import contract as C
    from graph_importer_spark.streaming import stateful_sessions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = ev.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(CAST(ts AS TIMESTAMP)))")
    ).first()[0]
    d = str(tmp_path / "ev")
    ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) <= cut).coalesce(1).write.mode("append").parquet(d)
    ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) > cut).coalesce(1).write.mode("append").parquet(d)
    parts = sorted(
        (p for p in os.listdir(d) if p.endswith(".parquet")),
        key=lambda p: os.path.getmtime(os.path.join(d, p)),
    )
    assert len(parts) == 2
    # guarantee strict mtime order for the file-source's oldest-first pick
    base = os.path.getmtime(os.path.join(d, parts[0]))
    os.utime(os.path.join(d, parts[1]), (base + 10, base + 10))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(d)
    )
    name = "ss_" + uuid.uuid4().hex[:8]
    q = (
        stateful_sessions(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode emissions are cumulative and monotone: final = max
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_sessions").alias("n_sessions"), F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in C.q_events_sessions(spark, sf_dir).collect()
    }
    assert got == want


def test_incremental_canonical_stream_stable_ids(spark, tmp_path):
    from graph_importer_spark.streaming import (
        canonical_entities,
        incremental_canonical_stream,
    )

    pages_dir = str(tmp_path / "pages_c")
    ckpt = str(tmp_path / "ckpt_c")
    cat = GraphCatalog(spark, str(tmp_path / "wh_c"))

    aliases = _write_pages(spark, pages_dir, 0, 30)
    q = incremental_canonical_stream(spark, pages_dir, aliases, cat, "cmap", ckpt)
    q.awaitTermination(120)
    m1 = {r["entity"]: r["canonical"] for r in canonical_entities(cat.read("cmap")).collect()}
    assert m1  # non-empty map after the first batch

    # new pages arrive: previously assigned ids must not churn
    _write_pages(spark, pages_dir, 30, 60)
    q = incremental_canonical_stream(spark, pages_dir, aliases, cat, "cmap", ckpt)
    q.awaitTermination(120)
    m2 = {r["entity"]: r["canonical"] for r in canonical_entities(cat.read("cmap")).collect()}
    assert set(m1) <= set(m2)
    churned = {e for e in m1 if m2[e] != m1[e]}
    # ids may only change by merging to a SMALLER old id, never to a new one
    for e in churned:
        assert m2[e] in m1.values() and m2[e] < m1[e]

    # restart with NO new files: map unchanged (checkpoint + idempotence)
    q = incremental_canonical_stream(spark, pages_dir, aliases, cat, "cmap", ckpt)
    q.awaitTermination(120)
    m3 = {r["entity"]: r["canonical"] for r in canonical_entities(cat.read("cmap")).collect()}
    assert m3 == m2

    # component structure equals the one-shot batch CC over all pages
    # (id CHOICE may differ: incremental keeps first-batch ids)
    from graph_importer_spark.pipeline import run_pipeline
    import tempfile

    pages, _, _ = synth.corpus(spark, n_pages=60, n_entities=20)
    p = run_pipeline(spark, pages, aliases, tempfile.mkdtemp())
    bm = {
        r["entity"]: r["canonical"]
        for r in p.cat.read("canonical_map").collect()
    }
    assert set(bm) == set(m2)
    groups_inc = {}
    groups_bat = {}
    for e in bm:
        groups_inc.setdefault(m2[e], set()).add(e)
        groups_bat.setdefault(bm[e], set()).add(e)
    assert sorted(map(sorted, groups_inc.values())) == sorted(
        map(sorted, groups_bat.values())
    )


def test_streaming_fuzzy_dedup_links_new_batches_to_prior_docs(spark, tmp_path):
    from graph_importer_spark.streaming import streaming_fuzzy_dedup

    docs_dir = str(tmp_path / "docs_f")
    ckpt = str(tmp_path / "ckpt_f")
    cat = GraphCatalog(spark, str(tmp_path / "wh_f"))
    base = " ".join(f"w{i}" for i in range(25))
    b0 = spark.createDataFrame(
        [(i, base + f" tail{i}") if i % 2 else (i, f"very different doc {i} " * 4)
         for i in range(6)],
        ["doc_id", "text"],
    )
    b0.coalesce(1).write.mode("overwrite").parquet(docs_dir)
    schema = b0.schema

    run = lambda: streaming_fuzzy_dedup(  # noqa: E731
        spark, docs_dir, cat, ckpt, schema, k=3, n_hashes=8, bands=4
    ).awaitTermination(120)
    run()
    assert cat.read("near_dups").count() == 0  # first batch has no priors
    n_index_1 = cat.read("lsh_index").count()
    assert n_index_1 == 6 * 4  # one key per (doc, band)

    # batch 2: clone of doc 1 + an unrelated doc -> exactly the clone links
    b1 = spark.createDataFrame(
        [(101, base + " tail1"), (102, "nothing shared with anything here")],
        ["doc_id", "text"],
    )
    b1.coalesce(1).write.mode("append").parquet(docs_dir)
    run()
    links = {(r["new_id"], r["corpus_id"]) for r in cat.read("near_dups").collect()}
    assert (101, 1) in links
    assert not any(n == 102 for n, _ in links)
    # index and counts folded the new batch in
    assert cat.read("lsh_index").count() == n_index_1 + 2 * 4
    total = sum(r["bucket_n"] for r in cat.read("lsh_counts").collect())
    assert total == 8 * 4

    # restart with no new files: nothing changes (checkpoint + tags)
    run()
    assert {(r["new_id"], r["corpus_id"]) for r in cat.read("near_dups").collect()} == links
