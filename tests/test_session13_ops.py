"""Round-4 session-13: readability scores + the composed ER pipeline
and KG quality report (known answers and schema handoffs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_importer_spark.operators.blocking import meta_blocking_pairs
from graph_importer_spark.operators.dedup import dup_clusters
from graph_importer_spark.operators.linkage import fs_score, golden_record
from graph_importer_spark.operators.textstats import readability_columns


def test_readability_known_text(spark):
    d = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "a")],
        "id long, text string",
    )
    out = {r.id: r for r in readability_columns(d, "id", "text").collect()}
    r = out[1]
    assert r.n_words == 6 and r.n_sentences == 2
    # syllables: the(1) cat(1) sat(1) the(1) dog(1) ran(1) = 6 vowel runs
    assert r.n_syllables == 6
    wps, spw = 6 / 2, 6 / 6
    assert r.flesch == pytest.approx(206.835 - 1.015 * wps - 84.6 * spw, abs=1e-6)
    assert r.fk_grade == pytest.approx(0.39 * wps + 11.8 * spw - 15.59, abs=1e-6)
    # degenerate one-letter doc: mins kick in, no division blowup
    assert out[2].n_words == 1 and out[2].n_sentences == 1


def test_readability_monotone_in_sentence_length(spark):
    short = "one two. three four. five six."
    long = "one two three four five six seven eight nine ten eleven twelve."
    d = spark.createDataFrame([(1, short), (2, long)], "id long, text string")
    out = {r.id: r for r in readability_columns(d, "id", "text").collect()}
    # longer sentences -> harder text -> lower flesch, higher grade
    assert out[2].flesch < out[1].flesch
    assert out[2].fk_grade > out[1].fk_grade


def _er_pipeline(spark, sf_dir):
    """End-to-end entity resolution over the part table: meta-blocking
    candidates -> field-agreement features -> Fellegi-Sunter scoring ->
    match pairs -> transitive dup clusters -> golden-record
    survivorship.  Each stage is tested on its own; this checks the
    composition (schema handoffs, decision thresholds, keeper
    election)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_partkey") < 400)
    recs = p.select(
        F.col("p_partkey").alias("id"),
        F.concat_ws(" ", "p_name", "p_type", "p_brand").alias("name"),
    )
    cand = meta_blocking_pairs(recs, "id", "name", max_block=60)
    attrs = p.select("p_partkey", "p_name", "p_brand", "p_type")
    feats = (
        cand.join(
            attrs.select(
                F.col("p_partkey").alias("a"),
                F.col("p_name").alias("_na"),
                F.col("p_brand").alias("_ba"),
                F.col("p_type").alias("_ta"),
            ),
            "a",
        )
        .join(
            attrs.select(
                F.col("p_partkey").alias("b"),
                F.col("p_name").alias("_nb"),
                F.col("p_brand").alias("_bb"),
                F.col("p_type").alias("_tb"),
            ),
            "b",
        )
        .select(
            "a",
            "b",
            (F.col("_na") == F.col("_nb")).alias("same_name"),
            (F.col("_ba") == F.col("_bb")).alias("same_brand"),
            (F.col("_ta") == F.col("_tb")).alias("same_type"),
        )
    )
    scored = fs_score(
        feats,
        {"same_name": (0.95, 0.05), "same_brand": (0.8, 0.2),
         "same_type": (0.7, 0.3)},
        lower=0.0,
        upper=3.0,
    )
    matches = scored.filter(F.col("fs_decision") == "match").select(
        F.col("a").alias("id1"), F.col("b").alias("id2")
    )
    clusters = dup_clusters(matches)
    members = clusters.join(
        attrs.withColumnRenamed("p_partkey", "doc_id"), "doc_id"
    ).select("keeper", "p_name", "p_brand", "p_type")
    return golden_record(
        members, "keeper", {"p_name": "mode", "p_brand": "min", "p_type": "max"}
    )


def test_er_pipeline_contract_composition(spark, sf_dir):
    out = _er_pipeline(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.n_members >= 2  # every golden record merged a real cluster
        assert r.p_name is not None


def test_kg_quality_contract_composition(spark, sf_dir):
    from graph_importer_spark.contract import q_kg_quality

    out = {r.check_name: r.n_items for r in q_kg_quality(spark, sf_dir).collect()}
    # the planted synthesis guarantees every audit class fires
    assert out.get("constraint:functional", 0) > 0
    assert out.get("constraint:range", 0) > 0
    assert out.get("dangling:dst", 0) > 0
