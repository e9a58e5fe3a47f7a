"""Table catalog: Iceberg-contract semantics, parquet-backed locally.

The north rule targets Iceberg tables.  The catalog abstracts the four
behaviors the pipeline depends on, exactly mirroring the reference's
graph-DDL contract (general.py:51-108 and the exists-then-skip guards at
graphalytics_importer.py:168-175, edge_list.py:61-66,
clique_generator.py:262-267):

* create_or_replace  <-> drop-then-create under --overwrite
                         (Iceberg: ``df.writeTo(t).createOrReplace()``)
* exists / skip      <-> graph_exists guard (resume semantics)
* append             <-> bulk insert_documents (Iceberg: ``append()``)
* snapshots/tags     <-> stage checkpoint markers (Iceberg: snapshot log
                         + named refs/tags)

Two backends behind one API:

* ``use_iceberg=True``  — the real mapping: a Hadoop-type Iceberg
  catalog is configured on the session, writes go through
  ``writeTo().createOrReplace()/append()``, tags are Iceberg named refs
  (``ALTER TABLE .. CREATE TAG``), snapshots/lineage come from the
  ``.snapshots`` / ``.files`` metadata tables.  Requires the
  iceberg-spark-runtime jar (``iceberg_available()``); this container
  does not ship it, so the branch is exercised by a skipped-unless-jar
  test (tests/test_tables_iceberg.py) and runs unchanged on a real
  cluster.
* default               — parquet directories + a JSON snapshot record
  per commit.  Local commits are ATOMIC the same way Iceberg's are —
  visibility flips on a single metadata swap, never on data-file
  arrival:

  - ``create_or_replace`` stages data + meta in a temp dir and
    ``os.rename``s the whole table directory into place;
  - ``append`` stages the new files in a hidden ``.stage-*`` dir,
    renames it to ``append-<uuid>``, and only then atomically rewrites
    ``_graft_meta.json`` (tmp file + ``os.rename``) to list the new
    dir.  Readers union exactly the dirs the meta lists, so a crash
    between the data rename and the meta rewrite leaves an INVISIBLE
    orphan directory — a replayed batch appends fresh data without
    duplicating rows, which is what makes the streaming layer's
    tag-idempotent foreachBatch exactly-once end to end.

  Concurrent appends to one table (several streams' foreachBatch
  threads) are serialized by a ``flock`` held from the existence check
  through the meta swap, so each commits; other writes take no lock.
"""

from __future__ import annotations

import fcntl
import functools
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _columns(schema: StructType) -> dict[str, str]:
    """Column name -> type, nullability aside (``simpleString`` omits it)."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None,
    bucket_by: tuple[int, str] | list | None,
) -> None:
    """Write ``df`` under ``path`` in a local table's layout: hash-clustered
    into n files (per partition) for ``bucket_by=(n, col)``, one directory
    per value of the ``partition_by`` columns.  A table with neither is
    one plain write, no exchange."""
    if bucket_by is not None:
        n, col = bucket_by
        df = df.repartition(n, F.xxhash64(F.col(col)))
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark-runtime jar is on the session's JVM
    classpath (the real-cluster precondition for ``use_iceberg=True``)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class GraphCatalog:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        use_iceberg: bool = False,
        catalog_name: str = "graft",
        namespace: str = "db",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.use_iceberg = use_iceberg
        self.catalog_name = catalog_name
        self.namespace = namespace
        if use_iceberg:
            if not iceberg_available(spark):
                raise NotImplementedError(
                    "use_iceberg=True needs the iceberg-spark-runtime jar on "
                    "the classpath (spark-submit --packages org.apache.iceberg:"
                    "iceberg-spark-runtime-...); not shipped in this container"
                )
            # Hadoop-type catalog rooted at the warehouse path — catalogs
            # are instantiated lazily, so setting conf post-startup works
            spark.conf.set(
                f"spark.sql.catalog.{catalog_name}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            spark.conf.set(f"spark.sql.catalog.{catalog_name}.type", "hadoop")
            spark.conf.set(f"spark.sql.catalog.{catalog_name}.warehouse", warehouse)
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS `{catalog_name}`.`{namespace}`"
            )
        else:
            os.makedirs(warehouse, exist_ok=True)

    # -- identifiers / paths --------------------------------------------
    def _ident(self, name: str) -> str:
        return f"`{self.catalog_name}`.`{self.namespace}`.`{name}`"

    def _meta_ident(self, name: str, meta: str) -> str:
        """4-part identifier for an Iceberg metadata table
        (catalog.ns.table.snapshots / .files / .refs)."""
        return self._ident(name) + f".`{meta}`"

    def _dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_graft_meta.json")

    # -- existence probes (reference: general.py:13-25 graph/collection
    #    exists — drives resume-or-skip) --------------------------------
    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(name))
        return os.path.exists(self._meta_path(name))

    def _read_meta(self, name: str) -> dict:
        with open(self._meta_path(name)) as f:
            return json.load(f)

    def snapshots(self, name: str) -> list[dict]:
        if not self.exists(name):
            return []
        if self.use_iceberg:
            rows = self.spark.sql(
                f"SELECT snapshot_id, committed_at, operation FROM "
                f"{self._meta_ident(name, 'snapshots')} ORDER BY committed_at"
            ).collect()
            tags = self._ice_tags(name)
            return [
                {
                    "snapshot_id": r["snapshot_id"],
                    "op": r["operation"],
                    "tag": tags.get(r["snapshot_id"]),
                    "ts": r["committed_at"].timestamp(),
                }
                for r in rows
            ]
        return self._read_meta(name).get("snapshots", [])

    def properties(self, name: str) -> dict:
        if not self.exists(name):
            return {}
        if self.use_iceberg:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self._ident(name)}"
            ).collect()
            return {r["key"]: r["value"] for r in rows}
        return self._read_meta(name).get("properties", {})

    # -- writes ---------------------------------------------------------
    def create_or_replace(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, str] | None = None,
        properties: dict | None = None,
        tag: str | None = None,
    ) -> None:
        """Drop-then-create (the --overwrite path, general.py:58-68).

        ``bucket_by=(n, col)`` mirrors ArangoDB's numberOfShards /
        Iceberg's bucket(n, col) transform: data is hash-clustered into n
        files per partition so a downstream equi-join on ``col`` can be
        planned shuffle-free (bucketed join / storage-partitioned join)
        on a real catalog; locally we repartition by the hash so file
        layout matches.
        """
        if self.use_iceberg:
            writer = df.writeTo(self._ident(name)).using("iceberg")
            transforms = []
            if partition_by:
                transforms += [F.col(c) for c in partition_by]
            if bucket_by is not None:
                n, col = bucket_by
                transforms.append(F.bucket(n, col))
            if transforms:
                writer = writer.partitionedBy(*transforms)
            for k, v in (properties or {}).items():
                writer = writer.tableProperty(str(k), str(v))
            writer.createOrReplace()
            if tag:
                self._ice_tag(name, tag)
            return
        d = self._dir(name)
        tmp = d + ".tmp-" + uuid.uuid4().hex[:8]
        _write_parquet(df, os.path.join(tmp, "data"), partition_by, bucket_by)
        meta = {
            "name": name,
            "schema": df.schema.jsonValue(),
            "properties": properties or {},
            "partition_by": partition_by or [],
            "bucket_by": list(bucket_by) if bucket_by else None,
            "dirs": ["data"],
            "snapshots": [self._snap("create_or_replace", tag)],
        }
        with open(os.path.join(tmp, "_graft_meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.rename(tmp, d)

    def _write_meta(self, name: str, meta: dict) -> None:
        """Atomic meta swap: the rename is the commit point (POSIX
        rename-over-existing is atomic), exactly like Iceberg's metadata
        pointer flip."""
        path = self._meta_path(name)
        tmp = path + ".tmp-" + uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.rename(tmp, path)

    def _data_dirs(self, name: str) -> list[str]:
        meta = self._read_meta(name)
        return [
            os.path.join(self._dir(name), sub) for sub in meta.get("dirs", ["data"])
        ]

    def append(self, name: str, df: DataFrame, tag: str | None = None) -> None:
        """Bulk append (reference insert_documents, general.py:122-136).

        Local backend: stage -> rename -> meta swap.  The appended files
        become visible ONLY when the meta rewrite lands (the atomic
        commit point); a crash before it leaves an orphan
        ``append-*``/``.stage-*`` dir that no reader ever unions in, so
        a replay cannot duplicate rows.  All of it runs under an exclusive
        per-table lock, so concurrent appends each commit.
        """
        if self.use_iceberg:
            if not self.exists(name):
                self.create_or_replace(name, df, tag=tag)
                return
            df.writeTo(self._ident(name)).append()
            if tag:
                self._ice_tag(name, tag)
            return
        # flock excludes threads and processes alike (each open() is its own
        # file description) and is released when the file closes; the lock
        # file sits beside the table dir, which create_or_replace replaces
        with open(self._dir(name) + ".lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not self.exists(name):
                self.create_or_replace(name, df, tag=tag)
                return
            meta = self._read_meta(name)
            # reads trust the committed schema, so an append must match it by
            # column name and type (nullability aside), as an Iceberg append does
            want = _columns(StructType.fromJson(meta["schema"]))
            got = _columns(df.schema)
            if got != want:
                raise ValueError(
                    f"append to {name!r}: columns {sorted(got.items())} do not "
                    f"match the table's {sorted(want.items())}"
                )
            token = uuid.uuid4().hex[:8]
            stage = os.path.join(self._dir(name), ".stage-" + token)
            final = os.path.join(self._dir(name), "append-" + token)
            _write_parquet(df, stage, meta.get("partition_by"), meta.get("bucket_by"))
            os.rename(stage, final)
            meta.setdefault("dirs", ["data"]).append("append-" + token)
            meta["snapshots"].append(self._snap("append", tag))
            self._write_meta(name, meta)

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        if os.path.exists(self._dir(name)):
            shutil.rmtree(self._dir(name))

    # -- reads ----------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(self._ident(name))
        # union exactly the dirs the meta lists — uncommitted appends
        # (orphan stage/append dirs from a crashed writer) are invisible.
        # The schema comes from the meta, as Iceberg's does, not from the
        # data files: no inference job, and a partition value keeps its
        # committed type.  The scan still returns every field nullable and
        # partition columns last, as an inferred read does.
        meta = self._read_meta(name)
        scan = self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet
        dirs = self._data_dirs(name)
        if not meta.get("partition_by"):
            return scan(*dirs)
        # Spark discovers partition directories under one root per scan,
        # so each committed dir of a partitioned table is its own scan
        return functools.reduce(DataFrame.union, [scan(d) for d in dirs])

    def file_row_counts(self, name: str) -> list[tuple[str, int]]:
        """Per-file row counts — driver-side metadata only, no Spark job
        over the data.  Iceberg: the current snapshot's manifest
        (``.files`` metadata table: file_path, record_count).  Local:
        parquet footers.  One file per write partition, so this is the
        per-partition lineage of the producing stage."""
        if self.use_iceberg:
            rows = self.spark.sql(
                f"SELECT file_path, record_count FROM "
                f"{self._meta_ident(name, 'files')} ORDER BY file_path"
            ).collect()
            return [(r["file_path"], int(r["record_count"])) for r in rows]
        import pyarrow.parquet as pq

        out = []
        for data in self._data_dirs(name):
            # a partition_by table's files sit under '<col>=<v>/' dirs;
            # a scan skips '_'/'.' dirs, and so does this walk
            for root, dirs, files in os.walk(data):
                dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
                for fn in sorted(files):
                    if fn.endswith(".parquet"):
                        path = os.path.join(root, fn)
                        out.append(
                            (
                                os.path.relpath(path, os.path.dirname(data)),
                                pq.read_metadata(path).num_rows,
                            )
                        )
        return out

    def has_tag(self, name: str, tag: str) -> bool:
        if self.use_iceberg:
            if not self.exists(name):
                return False
            n = self.spark.sql(
                f"SELECT COUNT(*) AS n FROM {self._meta_ident(name, 'refs')} "
                f"WHERE type = 'TAG' AND name = '{tag}'"
            ).collect()[0]["n"]
            return n > 0
        return any(s.get("tag") == tag for s in self.snapshots(name))

    # -- iceberg helpers ------------------------------------------------
    def _ice_tag(self, name: str, tag: str) -> None:
        """Stage-checkpoint marker as an Iceberg named ref on the current
        snapshot (the exact analogue of the local JSON tag record)."""
        self.spark.sql(
            f"ALTER TABLE {self._ident(name)} CREATE OR REPLACE TAG `{tag}`"
        )

    def _ice_tags(self, name: str) -> dict:
        rows = self.spark.sql(
            f"SELECT name, snapshot_id FROM {self._meta_ident(name, 'refs')} "
            f"WHERE type = 'TAG'"
        ).collect()
        return {r["snapshot_id"]: r["name"] for r in rows}

    @staticmethod
    def _snap(op: str, tag: str | None) -> dict:
        return {
            "snapshot_id": uuid.uuid4().int >> 64,
            "op": op,
            "tag": tag,
            "ts": time.time(),
        }
