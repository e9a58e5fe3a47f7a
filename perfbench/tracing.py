"""Per-layer tracing, done entirely from outside the program.

The traced run turns Spark's event log on and wraps the public entry
points the pipeline calls:

* ``GraphCatalog.create_or_replace`` — each stage of a build ends with
  the commit of its table, so the gap between consecutive commits is
  that stage's busy interval; after each commit the wrapper tags the
  jobs of the next stage with the job description ``kgbench:<stage>``.
  A traced build whose stage tables did not commit exactly once each,
  in pipeline order, is a failed operation: its intervals would charge
  one stage's time to another;
* ``GraphCatalog.read`` / ``GraphCatalog.append`` — per-call wall time;
* ``cc.connected_components`` — wall, rounds (its ``on_iteration``
  callback) and its own job tag;
* ``materialize_graph`` — wall.

After the session stops, the event log is parsed and each job's task
counters are summed under the layer its description names
(``attribute``).  Streaming batches are timed by Spark itself
(``StreamingQuery.recentProgress``).
"""

from __future__ import annotations

import os
import statistics
import time

import graph_importer_spark.cc as cc_mod
import graph_importer_spark.pipeline as pipeline_mod
from graph_importer_spark.tables import GraphCatalog

from eventlog import TAG, Counters, EventLog, attribute, idle_s, read_event_log
from workloads import run_drain


# table whose commit ends each build stage, in pipeline order
STAGE_END = {
    "pages_text": "extract",
    "mentions": "mentions",
    "linked": "linking",
    "triples_raw": "triples",
    "canonical_map": "canonicalize",
    "triples": "rewrite",
    "kg_edges": "materialize",
}
STAGES = (*STAGE_END.values(), "observability")

UNITS = {
    "session.start_s": "s",
    "extract.busy_s": "s",
    "extract.task_s": "s",
    "extract.gc_s": "s",
    "extract.rows_in": "rows",
    "extract.shuffle_write_mb": "MB",
    "mentions.busy_s": "s",
    "mentions.task_s": "s",
    "mentions.rows_out": "rows",
    "linking.busy_s": "s",
    "linking.task_s": "s",
    "linking.shuffle_write_mb": "MB",
    "linking.kept_ratio": "ratio",
    "triples.busy_s": "s",
    "triples.task_s": "s",
    "triples.shuffle_write_mb": "MB",
    "triples.rows_out": "rows",
    "cc.busy_s": "s",
    "cc.rounds": "count",
    "cc.jobs": "count",
    "pipeline.canonicalize_s": "s",
    "pipeline.rewrite_s": "s",
    "pipeline.observability_s": "s",
    "pipeline.jobs": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.stage_cover": "ratio",
    "materialize.busy_s": "s",
    "materialize.shuffle_write_mb": "MB",
    "tables.bytes_written_mb": "MB",
    "tables.files_written": "count",
    "tables.write_amp": "ratio",
    "tables.read_s": "s",
    "tables.append_s": "s",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.offsets_s": "s",
    "streaming.commit_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.task_s_per_batch": "s",
    "trace.op_wall_s": "s",
}


def stages_complete(build: dict) -> bool:
    """Every stage table committed exactly once, in pipeline order, and
    the observability tables were appended after the last of them."""
    stages = [stage for stage, _ in build["commits"]]
    if stages != list(STAGE_END.values()) or "observability_end" not in build:
        return False
    return build["observability_end"] >= build["commits"][-1][1]


# -- wrappers ------------------------------------------------------------------
def _now_ms() -> int:
    return int(time.time() * 1000)


class Tracer:
    def __init__(self, work: str):
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        self.active = False
        self.builds: list[dict] = []
        self.drains: list[dict] = []
        self.reads: list[float] = []
        self.appends: list[float] = []

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.log_dir,
            "spark.eventLog.compress": "false",
        }

    def _tag(self, layer: str | None) -> None:
        self.sc.setJobDescription(None if layer is None else TAG + layer)

    def attach(self, spark, session_s: float) -> None:
        self.sc = spark.sparkContext
        self.session_s = session_s
        tracer = self
        orig_cor = GraphCatalog.create_or_replace
        orig_append = GraphCatalog.append
        orig_read = GraphCatalog.read
        orig_cc = cc_mod.connected_components
        orig_mat = pipeline_mod.materialize_graph

        def create_or_replace(cat, name, df, *a, **kw):
            orig_cor(cat, name, df, *a, **kw)
            b = tracer.builds[-1] if tracer.active and tracer.builds else None
            if b is not None and name in STAGE_END:
                b["commits"].append((STAGE_END[name], time.perf_counter()))
                nxt = STAGES[STAGES.index(STAGE_END[name]) + 1]
                b["layer"] = nxt
                tracer._tag(nxt)

        def append(cat, name, df, *a, **kw):
            t0 = time.perf_counter()
            orig_append(cat, name, df, *a, **kw)
            t1 = time.perf_counter()
            if tracer.active:
                tracer.appends.append(t1 - t0)
                if tracer.builds and name in ("_metrics", "_lineage"):
                    tracer.builds[-1]["observability_end"] = t1

        def read(cat, name):
            t0 = time.perf_counter()
            df = orig_read(cat, name)
            if tracer.active:
                tracer.reads.append(time.perf_counter() - t0)
            return df

        def connected_components(edges, *a, on_iteration=None, **kw):
            if not (tracer.active and tracer.builds):
                return orig_cc(edges, *a, on_iteration=on_iteration, **kw)
            b = tracer.builds[-1]

            def hook(i, n):
                b["cc_rounds"] += 1
                if on_iteration is not None:
                    on_iteration(i, n)

            tracer._tag("cc")
            t0 = time.perf_counter()
            try:
                return orig_cc(edges, *a, on_iteration=hook, **kw)
            finally:
                b["cc_s"] += time.perf_counter() - t0
                tracer._tag(b["layer"])

        def materialize_graph(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig_mat(*a, **kw)
            finally:
                if tracer.active and tracer.builds:
                    tracer.builds[-1]["materialize_s"] += time.perf_counter() - t0

        GraphCatalog.create_or_replace = create_or_replace
        GraphCatalog.append = append
        GraphCatalog.read = read
        cc_mod.connected_components = connected_components
        pipeline_mod.materialize_graph = materialize_graph

    # -- traced operations -------------------------------------------------
    def build(self, call, warehouse: str, input_bytes: int):
        """Run one traced build; return (pipeline, wall, stages_ok)."""
        b = {"commits": [], "layer": "extract", "cc_rounds": 0, "cc_s": 0.0,
             "materialize_s": 0.0}
        self.builds.append(b)
        self.active = True
        self._tag("extract")
        b["start_ms"], b["start"] = _now_ms(), time.perf_counter()
        try:
            p = call()
        finally:
            b["end_ms"], b["end"] = _now_ms(), time.perf_counter()
            self._tag(None)
            self.active = False
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(warehouse)
                 for f in fs if f.endswith(".parquet")]
        b["files"] = len(files)
        b["write_amp"] = sum(map(os.path.getsize, files)) / input_bytes
        b["complete"] = stages_complete(b)
        return p, b["end"] - b["start"], b["complete"]

    def drain(self, start) -> list[dict]:
        d = {"start_ms": _now_ms()}
        self.drains.append(d)
        self.active = True
        try:
            d["progress"] = run_drain(start)
        finally:
            d["end_ms"] = _now_ms()
            self.active = False
        return d["progress"]

    # -- report --------------------------------------------------------------
    def report(self, ops) -> dict[str, float]:
        log = read_event_log(self.log_dir)
        m = dict.fromkeys(UNITS, 0.0)
        m["session.start_s"] = self.session_s
        m["trace.op_wall_s"] = statistics.median(o.latency_s for o in ops)
        if self.reads:
            m["tables.read_s"] = statistics.median(self.reads)
        if self.appends:
            m["tables.append_s"] = statistics.median(self.appends)
        if self.builds:
            self._report_builds(log, m)
        if self.drains:
            self._report_drains(log, m)
        return m

    def _report_builds(self, log: EventLog, m: dict) -> None:
        """Per-build values, then the median over builds."""
        rows = []
        for b in filter(lambda b: b["complete"], self.builds):
            r: dict[str, float] = {}
            window = (b["start_ms"], b["end_ms"] + 1)
            c = attribute(log, window)
            prev = b["start"]
            busy = {}
            for stage, t in b["commits"]:
                busy[stage] = t - prev
                prev = t
            busy["observability"] = b["observability_end"] - prev
            wall = b["end"] - b["start"]
            for layer in ("extract", "mentions", "linking", "triples"):
                r[f"{layer}.busy_s"] = busy[layer]
                r[f"{layer}.task_s"] = c.get(layer, Counters()).task_s
            ex, me, li, tr = (c.get(k, Counters()) for k in ("extract", "mentions", "linking", "triples"))
            r["extract.gc_s"] = ex.gc_s
            r["extract.rows_in"] = ex.rows_in
            r["extract.shuffle_write_mb"] = ex.shuffle_write_mb
            r["mentions.rows_out"] = me.rows_out
            r["linking.shuffle_write_mb"] = li.shuffle_write_mb
            r["linking.kept_ratio"] = li.rows_out / me.rows_out if me.rows_out else 0.0
            r["triples.shuffle_write_mb"] = tr.shuffle_write_mb
            r["triples.rows_out"] = tr.rows_out
            r["cc.busy_s"] = b["cc_s"]
            r["cc.rounds"] = b["cc_rounds"]
            r["cc.jobs"] = c.get("cc", Counters()).jobs
            r["pipeline.canonicalize_s"] = busy["canonicalize"]
            r["pipeline.rewrite_s"] = busy["rewrite"]
            r["pipeline.observability_s"] = busy["observability"]
            r["pipeline.jobs"] = c["*"].jobs
            kept = [j for j in log.jobs.values() if window[0] <= j.submit_ms < window[1]]
            r["pipeline.driver_gap_s"] = idle_s(kept, window)
            r["pipeline.stage_cover"] = sum(busy.values()) / wall
            r["materialize.busy_s"] = b["materialize_s"]
            r["materialize.shuffle_write_mb"] = c.get("materialize", Counters()).shuffle_write_mb
            r["tables.bytes_written_mb"] = c["*"].bytes_written_mb
            r["tables.files_written"] = b["files"]
            r["tables.write_amp"] = b["write_amp"]
            rows.append(r)
        for k in rows[0] if rows else ():
            m[k] = statistics.median(r[k] for r in rows)

    def _report_drains(self, log: EventLog, m: dict) -> None:
        progress = [p for d in self.drains for p in d["progress"]]

        def med(*keys: str) -> float:
            return statistics.median(
                sum(p["durationMs"].get(k, 0) for k in keys) / 1000 for p in progress
            )

        m["streaming.batch_s"] = med("triggerExecution")
        m["streaming.add_batch_s"] = med("addBatch")
        m["streaming.offsets_s"] = med("latestOffset", "walCommit")
        m["streaming.commit_s"] = med("commitOffsets")
        totals = [attribute(log, (d["start_ms"], d["end_ms"] + 1))["*"] for d in self.drains]
        n = len(progress)
        m["streaming.jobs_per_batch"] = sum(c.jobs for c in totals) / n
        m["streaming.task_s_per_batch"] = sum(c.task_s for c in totals) / n
        m["tables.bytes_written_mb"] = sum(c.bytes_written_mb for c in totals) / n
