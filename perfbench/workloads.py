"""The benchmark's workloads, their seeded inputs and their output checks.

Every workload is driven only through the program's public API
(``synth``, ``pipeline.run_pipeline``, ``streaming.incremental_triples``,
``tables.GraphCatalog``).  Inputs are generated from the seed, written
as parquet and read back during set-up, so synthesis never falls inside
a timed region and the program sees only the stored files.

Each workload returns ``Op`` records for its timed operations: one per
bulk build, one per streaming micro-batch.  An operation whose output
disagrees with the ground truth, or a traced build whose stages did not
all commit (``tracing.stages_complete``), is marked not ``ok``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_importer_spark import synth
from graph_importer_spark.pipeline import run_pipeline
from graph_importer_spark.streaming import incremental_triples
from graph_importer_spark.tables import GraphCatalog

# The canonicalize stage switches from its single-task CC to the
# iterative large/small-star loop above this many (surface, entity)
# pairs.  The production default (200k) needs a corpus far larger than
# a run can build on a 4-core host, so the build pins it lower, below
# the entity-dense gazetteer's pair count.
SMALL_CC_ROWS = 10_000


# pages in the untimed warm-up build (same shape as the timed input)
WARM_PAGES = 200


@dataclass(frozen=True)
class BuildSpec:
    pages: int
    entities: int


@dataclass(frozen=True)
class StreamSpec:
    files: int
    file_pages: int
    entities: int
    weight: int
    warm_files: int = 4


BUILDS = {
    # large gazetteer, light pages: canonicalize (iterative CC) dominates
    "build_entity_dense": BuildSpec(pages=8_000, entities=32_000),
}
STREAMS = {
    "stream_microbatch": StreamSpec(files=12, file_pages=40, entities=2_000, weight=4),
}
WORKLOADS = (*BUILDS, *STREAMS)


@dataclass
class Op:
    latency_s: float
    triples: float
    ok: bool


@dataclass
class Expected:
    rows: int
    fingerprint: int


def fingerprint(df: DataFrame) -> Expected:
    """Order-insensitive (row count, xor of row hashes) of a triple set."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("subj", "pred", "obj", "url")).alias("fp"),
    ).collect()[0]
    return Expected(int(r["n"]), int(r["fp"] or 0))


def _write_build_inputs(spark, work: str, name: str, spec: BuildSpec, n_pages: int, seed: int):
    pages, gt, aliases = synth.corpus(spark, n_pages=n_pages, n_entities=spec.entities, seed=seed)
    d = os.path.join(work, name)
    pages.write.parquet(os.path.join(d, "pages"))
    aliases.write.parquet(os.path.join(d, "aliases"))
    expected = fingerprint(gt)
    return (
        spark.read.parquet(os.path.join(d, "pages")),
        spark.read.parquet(os.path.join(d, "aliases")),
        expected,
        _dir_bytes(os.path.join(d, "pages")),
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class BuildWorkload:
    """Bulk builds: one ``run_pipeline`` call per timed operation."""

    def __init__(self, spark: SparkSession, work: str, name: str, seed: int, tracer=None):
        self.spark, self.work, self.name, self.seed = spark, work, name, seed
        self.spec = BUILDS[name]
        self.tracer = tracer
        self.n_builds = 0

    def setup(self) -> None:
        spec = self.spec
        self.pages, self.aliases, self.expected, self.input_bytes = _write_build_inputs(
            self.spark, self.work, "input", spec, spec.pages, self.seed
        )
        # the first build in a JVM runs 30-50% slower: warm up on a small
        # corpus of the same shape, checked but never timed; it lies below
        # SMALL_CC_ROWS, so it is forced onto the timed build's CC loop
        wp, wa, we, _ = _write_build_inputs(
            self.spark, self.work, "warm", spec, WARM_PAGES, self.seed + 1
        )
        op = self._build(wp, wa, we, traced=False, cc_rows=0)
        if not op.ok:
            raise RuntimeError("warm-up build produced wrong triples")

    def _build(self, pages, aliases, expected: Expected, traced: bool,
               cc_rows: int = SMALL_CC_ROWS) -> Op:
        wh = os.path.join(self.work, f"wh{self.n_builds}")
        self.n_builds += 1
        call = lambda: run_pipeline(  # noqa: E731
            self.spark, pages, aliases, wh, small_cc_rows=cc_rows
        )
        stages_ok = True
        if traced and self.tracer is not None:
            p, wall, stages_ok = self.tracer.build(call, wh, self.input_bytes)
        else:
            t0 = time.perf_counter()
            p = call()
            wall = time.perf_counter() - t0
        got = fingerprint(p.triples())
        shutil.rmtree(wh, ignore_errors=True)
        return Op(wall, got.rows, got == expected and stages_ok)

    def timed_op(self) -> list[Op]:
        return [self._build(self.pages, self.aliases, self.expected, traced=True)]


class StreamWorkload:
    """Micro-batch ingest: ``incremental_triples`` drains a directory of
    page files one file per trigger (closed loop, one batch in flight);
    each drain starts from a fresh checkpoint and table."""

    def __init__(self, spark: SparkSession, work: str, name: str, seed: int, tracer=None):
        self.spark, self.work, self.name, self.seed = spark, work, name, seed
        self.spec = STREAMS[name]
        self.tracer = tracer
        self.n_drains = 0

    def setup(self) -> None:
        spec = self.spec
        pages, gt, aliases = synth.corpus(
            self.spark, n_pages=spec.files * spec.file_pages, n_entities=spec.entities,
            seed=self.seed, weight=spec.weight,
        )
        staged = os.path.join(self.work, "staged")
        pid = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
        # the streaming path has no language gate; the ground truth
        # covers English pages only, so only those are streamed
        (
            pages.filter(F.col("lang") == "en")
            .withColumn("f", F.floor(pid / spec.file_pages))
            .repartition(spec.files, "f")
            .write.partitionBy("f")
            .parquet(staged)
        )
        self.src = os.path.join(self.work, "src")
        self.warm_src = os.path.join(self.work, "warm_src")
        os.makedirs(self.src)
        os.makedirs(self.warm_src)
        for i in range(spec.files):
            part = os.path.join(staged, f"f={i}")
            (fn,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
            os.rename(os.path.join(part, fn), os.path.join(self.src, f"{i:04d}.parquet"))
        for i in range(spec.warm_files):
            shutil.copy(
                os.path.join(self.src, f"{i:04d}.parquet"),
                os.path.join(self.warm_src, f"{i:04d}.parquet"),
            )
        shutil.rmtree(staged)
        aliases.write.parquet(os.path.join(self.work, "aliases"))
        self.aliases = self.spark.read.parquet(os.path.join(self.work, "aliases"))
        self.expected = fingerprint(gt)
        self.input_bytes = _dir_bytes(self.src)
        ops = self._drain(self.warm_src, expected=None, traced=False)
        if not ops:
            raise RuntimeError("warm-up drain processed no batch")

    def _drain(self, src: str, expected: Expected | None, traced: bool) -> list[Op]:
        d = os.path.join(self.work, f"drain{self.n_drains}")
        self.n_drains += 1
        cat = GraphCatalog(self.spark, os.path.join(d, "wh"))
        start = lambda: incremental_triples(  # noqa: E731
            self.spark, src, self.aliases, cat, "triples",
            os.path.join(d, "ckpt"), available_now=True, max_files_per_trigger=1,
        )
        if traced and self.tracer is not None:
            batches = self.tracer.drain(start)
        else:
            batches = run_drain(start)
        got = fingerprint(cat.read("triples"))
        ok = expected is None or got == expected
        shutil.rmtree(d, ignore_errors=True)
        per_batch = got.rows / max(1, len(batches))
        return [
            Op(p["durationMs"]["triggerExecution"] / 1000, per_batch, ok)
            for p in batches
        ]

    def timed_op(self) -> list[Op]:
        return self._drain(self.src, self.expected, traced=True)


def run_drain(start) -> list[dict]:
    """Start a drain-and-stop stream, wait for it, return the progress
    of every micro-batch that read input."""
    q = start()
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def make(spark: SparkSession, work: str, name: str, seed: int, tracer=None):
    cls = BuildWorkload if name in BUILDS else StreamWorkload
    return cls(spark, work, name, seed, tracer)
