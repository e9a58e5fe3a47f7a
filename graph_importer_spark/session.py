"""SparkSession factory tuned for the KG-construction workload.

Replaces the reference's runtime gate (``arangodIsRunning``,
/root/reference/general.py:162-173) — the SparkSession *is* the runtime.

Design notes (100 TB target, tested on local[N]):

* AQE on: runtime coalescing of post-shuffle partitions, skew-join
  splitting for the power-law entity keys, dynamic join selection.
* Arrow on: every Python-side transform in this engine is a vectorized
  pandas/Arrow UDF (the reference is per-row Python dicts; we are not).
* ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a real
  cluster it should be sized so post-shuffle partitions are ~128-256 MB —
  AQE coalescing makes over-partitioning cheap, under-partitioning is not.
* Broadcast threshold raised to 64 MB: the alias/gazetteer dimension is a
  classic small-dim broadcast (SURVEY.md §2.3 J-absent row).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _package_zip() -> str:
    """Zip the package for --py-files-style shipping to executors.

    local[k] executors share the driver's sys.path; real (separate-JVM)
    executors do not — their Python workers must import this package
    from a shipped archive, exactly the `spark-submit --py-files
    graph_importer_spark.zip` deployment the north rule names.  Cached
    by source mtime."""
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "graph_importer_spark")
    out = os.path.join("/tmp", "graph_importer_spark.zip")
    srcs = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    ]
    newest = max(os.path.getmtime(s) for s in srcs)
    if not os.path.exists(out) or newest > os.path.getmtime(out):
        with zipfile.ZipFile(out + ".tmp", "w") as z:
            for s in srcs:
                z.write(s, os.path.relpath(s, root))
        os.replace(out + ".tmp", out)
    return out


def get_spark(
    app_name: str = "graph_importer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``cores`` is the parallelism knob used for the N vs 4N scaling
    evidence (local[8] vs local[32] stand in for N vs 4N executors).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or 2 * cores
    # SPARK_GRAFT_MASTER=spark://host:7077 switches to a (standalone)
    # cluster master — separate executor JVMs with their own heaps, the
    # geometry of a real N-executor cluster (start one with Spark's
    # sbin/start-master.sh and start-worker.sh; `cores` then means
    # TOTAL cores across executors and only sizes the shuffle
    # default).  Unset -> single-JVM local[cores].
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size post-shuffle partitions by BYTES, not by core count:
        # parallelismFirst=true (the default) refuses to coalesce below
        # defaultParallelism, so a tiny shuffle on a 32-core session runs
        # 32 near-empty tasks per stage — pure scheduling overhead that
        # grows with the cluster instead of the data (measured 3x
        # end-to-end slowdown local[8] -> local[32] before this).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # 16m locally (small test corpora still spread over all cores);
        # on a real cluster raise to 64-256m via SPARK_GRAFT_ADVISORY.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY", "16m"),
        )
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        # start every shuffle wide and let AQE coalesce DOWN by bytes:
        # partitioning decisions then depend on data volume, not on the
        # cluster size — the same job gets the same plan at N and 4N
        # executors, and no shuffle is capped at 2x-cores partitions.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sized for FAT rows (html is ~15 KB/page): 1024 rows
        # ~= 15 MB per batch. The old 10k-row default made 150 MB batches
        # that serialized whole-batch through JVM heap + worker memory —
        # measured 6x anti-scaling on the extract stage at 16 cores.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size bounds the parallelism of NARROW stages (the
        # explode-heavy mention/link scans read the 16 MB-partition
        # intermediate tables with no shuffle): at the default 128m a
        # few-GB intermediate yields ~25 fat tasks — 1.5 waves on 16
        # cores, stragglers dominate (measured mentions stage scaling
        # 1.9x instead of 4x going 4 -> 16 cores). 32m keeps CPU-heavy
        # scans 4+ waves deep at every level; on a real cluster raise it
        # back to 128-256m where executor counts dwarf the wave math.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill scratch: on a real cluster every executor has its
        # own local SSDs; in this single-box sandbox one 400 MB/s virtual
        # disk is shared by all "executors", which serializes shuffle I/O
        # and caps scaling. SPARK_GRAFT_LOCAL_DIR=/dev/shm/... emulates
        # per-executor disk bandwidth for scaling measurements.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master.startswith("spark://"):
        builder = (
            builder.config("spark.submit.pyFiles", _package_zip())
            .config(
                "spark.executor.cores", os.environ.get("SPARK_GRAFT_EXEC_CORES", "4")
            )
            .config(
                "spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "8g")
            )
            # don't start jobs until every worker's executor has joined —
            # otherwise the first stages of a scaling run execute on a
            # partial cluster and the sample under-reports the level
            .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
            .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
            # locality wait OFF: every executor is on THIS host, so
            # RACK/NODE locality is meaningless — but checkpointed and
            # AQE-coalesced blocks carry executor-level preferences, and
            # the default 3s wait serializes every small stage into
            # locality waves (measured: 4 executors SLOWER than 1 with
            # the default; the pipeline runs hundreds of small stages).
            # On a real multi-node cluster, locality waits pay for
            # avoided network reads; on localhost they buy nothing.
            .config("spark.locality.wait", "0s")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
