"""Snapshot catalog with an Iceberg-shaped API and a runtime-probed backend.

``open_table(spark, path)`` returns the best available backend:

- ``IcebergTable`` when an Iceberg Spark runtime is on the session's
  classpath AND a catalog is configured — real ``MERGE INTO`` /
  ``VERSION AS OF`` / ``expire_snapshots`` (VERDICT r02 next-round #5);
- ``SnapshotTable`` otherwise — parquet + manual snapshot dirs with the
  SAME surface (SURVEY §1.4 / §7 risk note: "detect and degrade to
  parquet … while keeping the same API shape"):

  - immutable snapshots with monotonically increasing ids (time travel),
  - MERGE-style upsert producing a new snapshot (the reference's
    ON CONFLICT upserts, S14-S16 in SURVEY §2.1),
  - partition-directory layout (``bucket=<k>``) so bucket-filtered reads
    prune at the file level exactly like Iceberg partition pruning.

A ``SnapshotTable`` merge rewrites the whole current snapshot into
``snap=N/``. A merge source whose optimized plan is an empty
``LocalRelation`` (``functions.empty_frame``, which the suite returns for
a resume with nothing left to validate) commits no snapshot and returns
the current id. That check reads the plan only: a source whose emptiness
would take a Spark job to learn is merged as usual, so its upstream
stages never run twice.

Commits are optimistic. A writer stages its files under ``_staging/``,
then claims the next sequence number by creating ``_claims/<seq>`` with
O_CREAT|O_EXCL; the claim holder is the only writer that can publish
``_meta.json`` next. A writer that loses the claim re-reads the meta, and
one whose rows were computed from a snapshot that is no longer current
rebuilds them, so concurrent merges lose no snapshot and no update.

``IcebergTable`` is unchanged by all of this: Iceberg's ``MERGE INTO``
already rewrites only the affected data files and commits through its own
optimistic metadata swap. ``SnapshotTable``'s partitioned writes follow
Iceberg's default ``write.distribution-mode=hash``: one data file per
partition.

Every caller goes through this seam; ``table.backend`` reports which
implementation a run actually used.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime classes are loadable in this
    session's JVM. Probes through Spark's own Utils.classForName first —
    jars shipped via spark.jars/--packages land in Spark's mutable
    classloader, which the system-classloader Class.forName cannot see —
    then falls back to Class.forName for system-classpath jars."""
    name = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(  # type: ignore[union-attr]
            name, False, False
        )
        return True
    except Exception:
        pass
    try:
        spark._jvm.java.lang.Class.forName(name)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None."""
    for k, v in spark.sparkContext.getConf().getAll():
        m = re.fullmatch(r"spark\.sql\.catalog\.(\w+)", k)
        if m and "iceberg" in v.lower():
            return m.group(1)
    return None


def open_table(spark: SparkSession, path: str, ident: str | None = None):
    """Backend factory: Iceberg when runtime + catalog are present, else
    the parquet SnapshotTable. ``ident`` names the Iceberg table
    (``db.table``); the default derives from the FULL path (sanitized), so
    distinct datasets sharing a basename (two warehouses' ``results``, two
    pipelines' ``trends_stats``) cannot collide in one Iceberg table the
    way a basename-only key would."""
    cat = iceberg_catalog(spark) if iceberg_available(spark) else None
    if cat:
        # "t_" prefix keeps the identifier legal for digit-leading paths
        name = ident or "t_" + re.sub(r"\W+", "_", path.rstrip("/")).strip("_")
        return IcebergTable(spark, f"{cat}.default.{name}")
    return SnapshotTable(path)


# -- Iceberg SQL construction (pure, unit-testable without a jar) ----------

def snapshots_sql(ident: str) -> str:
    """Snapshot ids in commit order. ``committed_at`` can tie within
    timestamp granularity on fast successive commits, so snapshot_id
    breaks ties (ADVICE r03) — ids are monotonically assigned per table."""
    return (
        f"SELECT snapshot_id FROM {ident}.snapshots "
        "ORDER BY committed_at, snapshot_id"
    )


def merge_sql(ident: str, view: str, keys: list[str]) -> str:
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    return (
        f"MERGE INTO {ident} t USING {view} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def delete_sql(ident: str, condition: str) -> str:
    return f"DELETE FROM {ident} WHERE {condition}"


def expire_sql(catalog: str, ident: str, snapshot_id: int) -> str:
    return (
        f"CALL {catalog}.system.expire_snapshots"
        f"(table => '{ident}', snapshot_ids => ARRAY({snapshot_id}))"
    )


class IcebergTable:
    """The real-Iceberg implementation of the SnapshotTable surface.

    Requires an Iceberg runtime jar + a configured catalog (probed by
    ``open_table``); this sandbox ships no jar, so CI pins the probe, the
    parquet backend, and — via a recording session double
    (tests/test_catalog_iceberg_sql.py) — the exact SQL strings and call
    sequence this class emits."""

    backend = "iceberg"

    # Class-level so concurrent merges in one session get distinct temp
    # views even across separate IcebergTable instances (ADVICE r03);
    # an itertools.count so the draw is atomic under threads (ADVICE r04).
    _merge_seq = itertools.count(1)

    def __init__(self, spark: SparkSession, ident: str):
        self.spark = spark
        self.ident = ident

    def _snapshot_ids(self) -> list[int]:
        rows = self.spark.sql(snapshots_sql(self.ident)).collect()
        return [r["snapshot_id"] for r in rows]

    def snapshots(self) -> list[int]:
        return self._snapshot_ids()

    def current_snapshot(self) -> int | None:
        ids = self._snapshot_ids()
        return ids[-1] if ids else None

    def write_snapshot(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        w = df.writeTo(self.ident)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()
        return self.current_snapshot()

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        if not self.spark.catalog.tableExists(self.ident):
            return self.write_snapshot(df, partition_by)
        df.writeTo(self.ident).append()
        return self.current_snapshot()

    def merge_upsert(
        self, df: DataFrame, keys: list[str], partition_by: list[str] | None = None
    ) -> int:
        if not self.spark.catalog.tableExists(self.ident):
            return self.write_snapshot(df, partition_by)
        # next() on an itertools.count is a single C-level call — atomic
        # under the GIL, so concurrent merges in one session cannot read
        # the same value and collide on the temp view name (a += on a
        # class attribute is a non-atomic read-modify-write)
        view = f"_merge_src_{next(IcebergTable._merge_seq)}"
        df.createOrReplaceTempView(view)
        try:
            self.spark.sql(merge_sql(self.ident, view, keys))
        finally:
            self.spark.catalog.dropTempView(view)
        return self.current_snapshot()

    def delete_where(self, condition: str) -> int:
        self.spark.sql(delete_sql(self.ident, condition))
        return self.current_snapshot()

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is not None:
            return spark.read.option("snapshot-id", snapshot_id).table(self.ident)
        return spark.table(self.ident)

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        ids = self._snapshot_ids()
        drop = ids[:-keep_last] if keep_last else ids
        cat = self.ident.split(".")[0]
        for sid in drop:
            self.spark.sql(expire_sql(cat, self.ident, sid))
        return drop


_ANY_PARENT = object()  # commit does not depend on the snapshot it replaces
_CLAIM_STALE_S = 30.0  # an unpublished claim this old belongs to a dead writer


def _known_empty(df: DataFrame) -> bool:
    """True when the optimized plan alone proves ``df`` empty (an empty
    ``LocalRelation``, e.g. ``functions.empty_frame``). No Spark job runs:
    a frame only a job could tell empty reports False, since running its
    upstream stages once to decide and again to write would double the
    cost of every merge that does have rows."""
    try:
        rows = df._jdf.queryExecution().optimizedPlan().maxRows()
    except AttributeError:  # no JVM plan to inspect (a Spark Connect frame)
        return False
    return bool(rows.isDefined()) and rows.get() == 0


class SnapshotTable:
    backend = "parquet"

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_meta.json")

    def _meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {"current": None, "seq": 0, "snapshots": []}
        with open(self._meta_path) as f:
            meta = json.load(f)
        # tables written before the claim protocol carry no sequence
        meta.setdefault(
            "seq", max([s["id"] for s in meta["snapshots"]] + [meta["current"] or 0])
        )
        return meta

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path)

    def snapshots(self) -> list[int]:
        return [s["id"] for s in self._meta()["snapshots"]]

    def current_snapshot(self) -> int | None:
        return self._meta()["current"]

    def _snap_dir(self, sid: int) -> str:
        return os.path.join(self.path, f"snap={sid}")

    # -- commit protocol -----------------------------------------------------
    def _claim(self, sid: int) -> bool:
        """Create ``sid``'s claim marker (O_CREAT|O_EXCL): True when this
        writer now owns the next commit. Whoever owns seq+1 is the only
        writer that can publish meta until it does, so the meta it read
        stays the latest one."""
        marker = os.path.join(self.path, "_claims", str(sid))
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            return True
        except FileExistsError:
            pass
        # A claim left unpublished past the timeout belongs to a writer that
        # died between claim and publish. The break token is named after
        # this marker file (inode + mtime): only the one waiter that creates
        # it removes the marker, and a later dead claim on the same id gets
        # a token of its own.
        try:
            st = os.stat(marker)
            if time.time() - st.st_mtime > _CLAIM_STALE_S:
                token = f"{marker}.broken-{st.st_ino}-{st.st_mtime_ns}"
                os.close(os.open(token, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                if self._meta()["seq"] < sid:
                    os.remove(marker)
        except (FileExistsError, FileNotFoundError):
            pass
        time.sleep(0.01)
        return False

    def _stage(self, df: DataFrame, partition_by: list[str] | None) -> str:
        """Write ``df`` into a private staging dir and return the dir."""
        stage = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        parts = list(partition_by or [])
        # hash distribution (Iceberg's write.distribution-mode=hash): each
        # partition's rows reach one task, so one data file per partition
        w = (df.repartition(*parts) if parts else df).write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(stage)
        # An all-empty frame (e.g. a clean run's violations) can plan to ZERO
        # output partitions under AQE — the dir then holds only _SUCCESS and
        # the NEXT read fails UNABLE_TO_INFER_SCHEMA. Re-write one empty,
        # schema-carrying part file so every committed snapshot is readable.
        if not any(
            f.startswith("part-") for _, _, files in os.walk(stage) for f in files
        ):
            df.limit(0).repartition(1).write.mode("overwrite").parquet(stage)
        return stage

    def _publish(
        self, stage: str, partition_by: list[str] | None, parent=_ANY_PARENT
    ) -> int | None:
        """Commit a staged write as the next snapshot. ``parent`` is the
        snapshot the staged rows were computed from: if another writer has
        committed since, the stage is discarded and None tells the caller to
        rebuild."""
        while True:
            meta = self._meta()
            if parent is not _ANY_PARENT and meta["current"] != parent:
                shutil.rmtree(stage, ignore_errors=True)
                return None
            sid = meta["seq"] + 1
            if self._claim(sid):
                break
        snap = self._snap_dir(sid)
        shutil.rmtree(snap, ignore_errors=True)  # debris of a dead writer
        os.rename(stage, snap)
        meta["snapshots"].append(
            {"id": sid, "ts": time.time(), "partition_by": list(partition_by or [])}
        )
        meta["current"] = meta["seq"] = sid
        self._write_meta(meta)  # atomic commit, Iceberg-style
        return sid

    def _rewrite(self, build, partition_by: list[str] | None) -> int:
        """Commit ``build(parent snapshot id)`` on top of the current
        snapshot, rebuilding when a concurrent commit lands first."""
        while True:
            parent = self.current_snapshot()
            stage = self._stage(build(parent), partition_by)
            sid = self._publish(stage, partition_by, parent=parent)
            if sid is not None:
                return sid

    # -- write paths ---------------------------------------------------------
    def write_snapshot(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        return self._publish(self._stage(df, partition_by), partition_by)

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """New snapshot = previous rows ∪ new rows."""

        def build(parent):
            if parent is None:
                return df
            return self.read(df.sparkSession, parent).unionByName(df)

        return self._rewrite(build, partition_by)

    def merge_upsert(
        self, df: DataFrame, keys: list[str], partition_by: list[str] | None = None
    ) -> int:
        """MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT: keep old
        rows whose key is absent from the new frame, take all new rows.
        (reference: per-row ON CONFLICT loops, models/stats.py:21-32 — here
        one anti-join + union, a single distributed pass). A source whose
        plan is provably empty commits nothing and returns the current id."""
        cur = self.current_snapshot()
        if cur is not None and _known_empty(df):
            return cur

        def build(parent):
            if parent is None:
                return df
            old = self.read(df.sparkSession, parent)
            kept = old.join(df.select(*keys).distinct(), keys, "left_anti")
            return kept.unionByName(df.select(old.columns))

        return self._rewrite(build, partition_by)

    def delete_where(self, condition: str) -> int:
        """Row-level delete (reference S18 retention deletes)."""
        spark = SparkSession.getActiveSession()

        def build(parent):
            if parent is None:
                raise FileNotFoundError(f"no snapshots in {self.path}")
            return self.read(spark, parent).filter(~F.expr(condition))

        return self._rewrite(build, None)

    # -- read paths ----------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        meta = self._meta()
        sid = snapshot_id if snapshot_id is not None else meta["current"]
        if sid is None:
            raise FileNotFoundError(f"no snapshots in {self.path}")
        if all(s["id"] != sid for s in meta["snapshots"]):
            raise FileNotFoundError(f"snapshot {sid} of {self.path} is expired or unknown")
        return spark.read.parquet(self._snap_dir(sid))

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Iceberg expire_snapshots analog: drop all but the newest N. The
        meta rewrite claims a sequence number like a commit does, so snapshot
        ids may skip one after an expire."""
        while True:
            meta = self._meta()
            drop = meta["snapshots"][:-keep_last] if keep_last else meta["snapshots"]
            if not drop:
                return []
            sid = meta["seq"] + 1
            if self._claim(sid):
                break
        meta["snapshots"] = meta["snapshots"][len(drop):]
        meta["seq"] = sid
        if not meta["snapshots"]:  # everything expired → table is empty, not bricked
            meta["current"] = None
        self._write_meta(meta)
        for s in drop:
            shutil.rmtree(self._snap_dir(s["id"]), ignore_errors=True)
        return [s["id"] for s in drop]
