"""Snapshot-versioned table store — the Iceberg stand-in.

The production design (SURVEY §1.1) keeps all crawl state in Iceberg tables
(frontier / pages / url_seen / metrics) so every wave is one atomic snapshot
commit and a crawl resumes exactly from the last committed snapshot. This
container has no Iceberg runtime jar, so this module implements the same
contract on plain parquet:

  * a table = directory of immutable snapshot dirs + one JSON **manifest**
    listing committed snapshots (version, op, parent, wave, metrics, schema);
  * a write = parquet dir + atomic manifest swap (``os.replace``) — a crash
    between the two leaves an orphan dir that is simply never read, which is
    exactly Iceberg's commit model;
  * reads see only manifest-committed snapshots → snapshot isolation;
  * **merge-on-read**: appends carry a ``_v`` (snapshot version) column;
    ``read_latest_by(key)`` resolves the newest row per key at read time —
    the MoR analog of ``MERGE INTO pages ON uuid`` (SURVEY S5) without
    rewriting history every wave (an O(total) rewrite per wave would never
    survive 100 TB);
  * lineage: every manifest entry records parent version, the logical wave,
    and operator metrics (north_rule: "checkpointed per-partition frontier
    snapshots with lineage and fetch/enqueue/dedup-hit metrics").

Swapping in real Iceberg = replacing this class with ``spark.table(...)`` /
``MERGE INTO`` / ``CALL rollback_to_snapshot`` — callers only use the
contract below.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

V_COL = "_v"


class SnapshotTable:
    def __init__(self, spark: SparkSession, base_path: str, name: str):
        self.spark = spark
        self.name = name
        self.path = os.path.join(base_path, name)
        os.makedirs(self.path, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": [], "schema": None}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # -- introspection ------------------------------------------------------
    def current_version(self) -> int:
        snaps = self._manifest()["snapshots"]
        return snaps[-1]["version"] if snaps else 0

    def lineage(self) -> list[dict]:
        return self._manifest()["snapshots"]

    def exists(self) -> bool:
        return bool(self._manifest()["snapshots"])

    # -- writes -------------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        op: str = "append",
        wave: int | None = None,
        metrics: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        manifest = self._manifest()
        version = (manifest["snapshots"][-1]["version"] if manifest["snapshots"] else 0) + 1
        snap_dir = os.path.join(self.path, f"snap-{version:06d}")
        out = df.withColumn(V_COL, F.lit(version))
        if partition_by:
            # Cluster files by the bucket key (Iceberg bucket-partitioning
            # analog). Deliberately NOT hive-style partitionBy directories:
            # multi-snapshot reads need one flat layout per snapshot root.
            out = out.repartition(*[F.col(c) for c in partition_by])
        out.write.mode("overwrite").parquet(snap_dir)
        manifest["snapshots"].append(
            {
                "version": version,
                "op": op,
                "parent": version - 1,
                "wave": wave,
                "ts": time.time(),
                "dir": snap_dir,
                "metrics": metrics or {},
            }
        )
        if manifest["schema"] is None:
            manifest["schema"] = out.schema.jsonValue()
        self._commit_manifest(manifest)
        return version

    def overwrite(self, df: DataFrame, op: str = "overwrite", wave: int | None = None) -> int:
        """Full replacement (compaction / truncate-and-load)."""
        manifest = self._manifest()
        version = (manifest["snapshots"][-1]["version"] if manifest["snapshots"] else 0) + 1
        snap_dir = os.path.join(self.path, f"snap-{version:06d}")
        out = df.withColumn(V_COL, F.lit(version))
        out.write.mode("overwrite").parquet(snap_dir)
        manifest["snapshots"] = [
            {
                "version": version,
                "op": op,
                "parent": 0,
                "wave": wave,
                "ts": time.time(),
                "dir": snap_dir,
                "metrics": {},
            }
        ]
        manifest["schema"] = out.schema.jsonValue()
        self._commit_manifest(manifest)
        return version

    def vacuum(self) -> None:
        """Delete snapshot dirs no longer referenced by the manifest
        (orphans from compaction/overwrite/rollback). Only safe when no live
        DataFrame still lazily references the old dirs — the crawler calls
        it between waves, after all per-wave frames are unpersisted."""
        live = {s["dir"] for s in self._manifest()["snapshots"]}
        for entry in os.listdir(self.path):
            p = os.path.join(self.path, entry)
            if entry.startswith("snap-") and os.path.isdir(p) and p not in live:
                shutil.rmtree(p, ignore_errors=True)

    def truncate(self) -> None:
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.makedirs(self.path, exist_ok=True)

    def rollback(self, to_version: int) -> None:
        """Drop snapshots after ``to_version`` (Iceberg rollback_to_snapshot)."""
        manifest = self._manifest()
        manifest["snapshots"] = [s for s in manifest["snapshots"] if s["version"] <= to_version]
        self._commit_manifest(manifest)

    # -- reads --------------------------------------------------------------
    def read(self, as_of: int | None = None,
             since_version: int | None = None) -> DataFrame:
        """Union of committed snapshots (≤ as_of; > since_version).
        Empty table → empty DF. ``since_version`` is the incremental-read
        half of the MoR contract: a consumer that holds a resolved BASE
        (e.g. the last compaction) reads only the appends after it."""
        manifest = self._manifest()
        snaps = manifest["snapshots"]
        if as_of is not None:
            snaps = [s for s in snaps if s["version"] <= as_of]
        if since_version is not None:
            snaps = [s for s in snaps if s["version"] > since_version]
        dirs = [s["dir"] for s in snaps]
        if not dirs:
            if manifest["schema"] is not None:
                schema = T.StructType.fromJson(manifest["schema"])
                return self.spark.createDataFrame([], schema)
            raise ValueError(f"table {self.name} is empty and has no schema yet")
        # mergeSchema: snapshots written across sessions may differ in
        # columns (e.g. `spans` vs `spans_z` when compress_body was toggled
        # on an existing store) — without it one side's column silently
        # disappears from the union. Schema-evolution reads are exactly
        # what an Iceberg-style table must survive.
        return self.spark.read.option("mergeSchema", "true").parquet(*dirs)

    def read_latest_by(self, key_cols: list[str], order_extra: list[str] | None = None,
                       as_of: int | None = None) -> DataFrame:
        """Merge-on-read: newest row per key (upsert resolution at read time)."""
        df = self.read(as_of=as_of)
        order = [F.col(V_COL).desc()] + [F.col(c).desc() for c in (order_extra or [])]
        w = Window.partitionBy(*key_cols).orderBy(*order)
        return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")

    def changelog(self, key_cols: list[str], from_version: int,
                  to_version: int | None = None,
                  order_extra: list[str] | None = None) -> DataFrame:
        """Iceberg-style change data feed between two committed snapshots:
        the NET per-key change from the resolved view at ``from_version``
        to the resolved view at ``to_version`` (default: current), as the
        new-side row plus a ``_change`` column in {'insert','update',
        'delete'}. Unchanged keys emit nothing. (Iceberg analog:
        ``table.changes`` / the create_changelog_view procedure — net_changes
        mode; this table's MoR layout makes it a metadata-only diff.)

        Classification is by snapshot version: a key whose resolved row
        carries the same ``_v`` at both reads did not change, so the diff
        never compares payload bytes — only the two MoR window reads and
        one equi-join on the key (both sides hash-partition on the same
        key: co-located, no extra exchange at scale). Deletes are keys
        whose new-side resolved row is a ``_deleted`` tombstone while the
        old side was live.

        The window must not span a ``compact``/``overwrite``: compaction
        rewrites every live row under a fresh ``_v`` (everything would
        classify as updated) and expires the old snapshots (the
        from-side read can no longer be served) — the guard below raises
        in that case rather than emitting a wrong feed."""
        if from_version > 0:
            snaps = self._manifest()["snapshots"]
            if snaps and not any(s["version"] <= from_version for s in snaps):
                raise ValueError(
                    f"changelog({self.name}): from_version={from_version} "
                    "predates the oldest retained snapshot (a compact/"
                    "overwrite expired it) — the diff cannot be computed"
                )
        new = self.read_latest_by(key_cols, order_extra=order_extra,
                                  as_of=to_version)

        def _del(df: DataFrame):
            if "_deleted" in df.columns:
                return F.coalesce(F.col("_deleted"), F.lit(False))
            return F.lit(False)

        new = new.withColumn("_del_new", _del(new))
        if from_version <= 0:
            changed = new.where(~F.col("_del_new")).withColumn(
                "_change", F.lit("insert"))
            return changed.drop("_del_new")
        old = self.read_latest_by(key_cols, order_extra=order_extra,
                                  as_of=from_version)
        old_keyed = old.select(
            *[F.col(k).alias(f"_old_{k}") for k in key_cols],
            F.col(V_COL).alias("_v_old"),
            _del(old).alias("_del_old"),
        )
        cond = None
        for k in key_cols:
            c = new[k] == old_keyed[f"_old_{k}"]
            cond = c if cond is None else cond & c
        # append-only manifest + the guard above ⇒ old keys ⊆ new read, so
        # a LEFT join from the new side sees every key that ever existed
        j = new.join(old_keyed, cond, "left")
        was_live = F.col("_v_old").isNotNull() & ~F.col("_del_old")
        change = (
            F.when(F.col("_del_new") & was_live, F.lit("delete"))
            .when(~F.col("_del_new") & ~was_live, F.lit("insert"))
            .when(~F.col("_del_new") & was_live
                  & (F.col(V_COL) > F.col("_v_old")), F.lit("update"))
        )
        return (
            j.withColumn("_change", change)
            .where(F.col("_change").isNotNull())
            .drop("_del_new", "_del_old", "_v_old",
                  *[f"_old_{k}" for k in key_cols])
        )

    def is_empty(self) -> bool:
        return not self.exists()


class SnapshotCatalog:
    """Namespace of SnapshotTables under one base directory (one crawl job)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.spark, self.base_path, name)

    def drop_all(self) -> None:
        shutil.rmtree(self.base_path, ignore_errors=True)
        os.makedirs(self.base_path, exist_ok=True)
