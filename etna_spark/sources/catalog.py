"""Snapshot-versioned table catalog: Iceberg when available, parquet fallback.

The north rule requires jobs resumable from Iceberg-snapshot checkpoints. In
this sandbox no Iceberg runtime jar is present, so the catalog abstracts the
SNAPSHOT CONTRACT the engine needs and implements it over plain parquet:

- a table is a directory of immutable data files plus ``_snapshots.json``;
- every append creates snapshot k+1 listing the files it added, and records
  the table schema, so reads never run Spark's schema-inference job;
- ``read(table, snapshot_id)`` sees exactly the files of snapshots ≤ id;
- ``read_delta(table, after_id, until_id)`` sees only files appended in
  (after_id, until_id] — the incremental-refresh input;
- ``overwrite_partitions`` atomically replaces the files of a partition
  subset (the tier-refresh MERGE target);
- ``partitions`` lists the partition values of each live file, and
  ``read_partitions`` opens only the files of the named partitions.

With Iceberg the same calls map to ``table.snapshot_id``, incremental scan
(``start-snapshot-id``/``end-snapshot-id``), ``overwritePartitions()`` and a
partition-filtered scan; swap the impl, keep the engine. (SURVEY.md §7.5
'Iceberg availability'.)

Writes are atomic via write-temp-then-rename + a json swap, so a job killed
mid-write never corrupts the table — the basis of the resume tests.

Known divergence from Iceberg: ``overwrite_partitions`` retires replaced
files from HISTORICAL snapshot entries too (the fallback keeps one file list
per snapshot, not full manifests), so time-travel reads to pre-overwrite
snapshots of tier tables are not supported — only the current view and the
append-delta scan, which is all the engine uses. Input tables are
append-only, so their full snapshot history stays readable.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# directory column of the partitioned write: a copy of the partition column,
# so the partition column itself stays a data column inside the files
_PART_DIR_COL = "_p"


@dataclass
class Snapshot:
    id: int
    files: list[str]  # paths relative to table root, added by this snapshot
    wall_time: float
    # snapshot summary properties (Iceberg: snapshot.summary) — the tier
    # engine stores its input watermark here so data commit + checkpoint
    # advance are ONE atomic operation (no crash window can double-apply a
    # delta)
    properties: dict | None = None
    # table schema as of this snapshot (StructType JSON), set by the commits
    # that write data
    schema: dict | None = None


class ParquetSnapshotTable:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- snapshot log ---------------------------------------------------------

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self._log_path):
            return []
        with open(self._log_path) as f:
            return [Snapshot(**s) for s in json.load(f)]

    def current_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1].id if snaps else 0

    def _write_log(self, snaps: list[Snapshot]) -> None:
        tmp = self._log_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f, indent=1)
        os.replace(tmp, self._log_path)  # atomic commit point

    # -- io -------------------------------------------------------------------

    @staticmethod
    def _files(snaps: list[Snapshot], after_id: int = 0,
               until_id: int | None = None) -> list[str]:
        """Live files added in snapshots (after_id, until_id]."""
        return [f for s in snaps
                if after_id < s.id and (until_id is None or s.id <= until_id)
                for f in s.files]

    def _read_files(self, spark: SparkSession, snaps: list[Snapshot],
                    files: list[str]) -> DataFrame:
        schema = next(s.schema for s in reversed(snaps) if s.schema)
        return spark.read.schema(StructType.fromJson(schema)).parquet(
            *[os.path.join(self.root, f) for f in files])

    def _stage_df(self, df: DataFrame) -> list[str]:
        """Write df into an immutable staging dir, return relative file paths."""
        stage = f"data-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.root, stage)
        df.write.mode("overwrite").parquet(out_dir)
        return [
            os.path.join(stage, f)
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ]

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        """Append rows as a new snapshot; returns its id."""
        files = self._stage_df(df)
        snaps = self.snapshots()
        new_id = (snaps[-1].id if snaps else 0) + 1
        snaps.append(
            Snapshot(id=new_id, files=files, wall_time=time.time(),
                     properties=properties, schema=df.schema.jsonValue())
        )
        self._write_log(snaps)
        return new_id

    def latest_property(self, key: str, default=None):
        """Highest-snapshot value of a snapshot property (watermark reads)."""
        for s in reversed(self.snapshots()):
            if s.properties and key in s.properties:
                return s.properties[key]
        return default

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snaps = self.snapshots()
        files = self._files(snaps, until_id=snapshot_id)
        if not files:
            raise ValueError(f"table {self.root} is empty")
        return self._read_files(spark, snaps, files)

    def read_delta(
        self, spark: SparkSession, after_id: int, until_id: int
    ) -> DataFrame | None:
        """Rows appended in snapshots (after_id, until_id] — the incremental
        scan."""
        snaps = self.snapshots()
        files = self._files(snaps, after_id, until_id)
        if not files:
            return None
        return self._read_files(spark, snaps, files)

    # -- partitions (tier tables) ---------------------------------------------

    def partitions(self, after_id: int = 0,
                   until_id: int | None = None) -> dict[str, set[str]]:
        """Partition values of each live file added in snapshots
        (after_id, until_id] — file → values, read from the sidecar (no
        Spark job). Files of unpartitioned appends map to an empty set."""
        part_map = self._partition_map()
        return {f: part_map.get(f, set())
                for f in self._files(self.snapshots(), after_id, until_id)}

    def read_partitions(self, spark: SparkSession,
                        partition_values: list) -> DataFrame | None:
        """Current rows of the named partitions, opening only their files
        (None when no live file holds any of them)."""
        wanted = set(map(str, partition_values))
        files = [f for f, parts in self.partitions().items() if parts & wanted]
        if not files:
            return None
        return self._read_files(spark, self.snapshots(), files)

    def overwrite_partitions(
        self, df: DataFrame, partition_col: str, partition_values: list,
        properties: dict | None = None,
    ) -> int:
        """Replace all rows of the named partitions with ``df`` (which must
        contain only those partitions). Files of other partitions are kept.
        Maps to Iceberg ``overwritePartitions()``.

        One partitioned write stages ``df`` as ``data-<id>/_p=<value>/*.parquet``.
        ``_p`` is a copy of ``partition_col``, so the partition column stays a
        data column inside the files and the table schema does not change.
        Each file holds one partition value, named by its directory, so the
        file→partition sidecar is exact: retention and later overwrites
        retire whole files, never rewrite them. A write task opens one file
        per partition value it holds; hash-partition ``df`` by
        ``partition_col`` to get one file per value."""
        if _PART_DIR_COL in df.columns:
            raise ValueError(f"column name {_PART_DIR_COL!r} is reserved")
        stage = f"data-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.root, stage)
        (df.withColumn(_PART_DIR_COL, F.col(partition_col))
         .write.partitionBy(_PART_DIR_COL).parquet(out_dir))
        file_parts: dict[str, str] = {}
        prefix = _PART_DIR_COL + "="
        for d in sorted(os.listdir(out_dir)):
            if not d.startswith(prefix):
                continue
            for f in sorted(os.listdir(os.path.join(out_dir, d))):
                if f.endswith(".parquet"):
                    file_parts[os.path.join(stage, d, f)] = unquote(d[len(prefix):])
        files = list(file_parts)
        snaps = self.snapshots()
        wanted = set(map(str, partition_values))
        retired = {f for f, parts in self.partitions().items() if parts & wanted}
        kept_snaps = [
            # keep historical properties: latest_property() walks the whole
            # log, so dropping them here would erase the tier watermark that
            # _refresh_tier reads (double-apply hazard after retention)
            dataclasses.replace(s, files=[f for f in s.files if f not in retired])
            for s in snaps
        ]
        new_id = (snaps[-1].id if snaps else 0) + 1
        kept_snaps.append(
            Snapshot(id=new_id, files=files, wall_time=time.time(),
                     properties=properties, schema=df.schema.jsonValue())
        )
        # partition sidecar first, snapshot log last: the log write is the
        # atomic commit point, and the sidecar only matters for files the log
        # references
        self._set_partition_map_entries(file_parts)
        self._write_log(kept_snaps)
        return new_id

    # partition sidecar: file -> set of partition values it contains
    @property
    def _part_map_path(self) -> str:
        return os.path.join(self.root, "_partitions.json")

    def _partition_map(self) -> dict[str, set]:
        if not os.path.exists(self._part_map_path):
            return {}
        with open(self._part_map_path) as f:
            return {k: set(v) for k, v in json.load(f).items()}

    def _set_partition_map_entries(self, file_parts: dict[str, str]) -> None:
        m = self._partition_map()
        live = set()
        for s in self.snapshots():
            live.update(s.files)
        m = {k: v for k, v in m.items() if k in live}
        for f, v in file_parts.items():
            m[f] = {v}
        tmp = self._part_map_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({k: sorted(v) for k, v in m.items()}, fh, indent=1)
        os.replace(tmp, self._part_map_path)

    def drop_partitions(self, partition_values: list) -> int:
        """Retention: drop whole partitions (expire old tier windows)."""
        vals = set(map(str, partition_values))
        retired = {f for f, parts in self.partitions().items()
                   if parts and parts <= vals}
        snaps = self.snapshots()
        kept = [dataclasses.replace(s, files=[f for f in s.files if f not in retired])
                for s in snaps]
        new_id = (snaps[-1].id if snaps else 0) + 1
        # carry the current watermark forward on the retention snapshot too,
        # so even a log rewrite that trims history keeps the watermark visible
        props = {}
        for s in reversed(snaps):
            if s.properties:
                props = dict(s.properties)
                break
        kept.append(Snapshot(id=new_id, files=[], wall_time=time.time(),
                             properties=props or None))
        self._write_log(kept)
        return new_id

    def compact_files(self) -> None:
        """Physically delete files no longer referenced by any snapshot
        (expire_snapshots equivalent); a staging dir left without live
        files is removed whole, with its partition dirs."""
        live = set()
        for s in self.snapshots():
            live.update(s.files)
        for d in os.listdir(self.root):
            top = os.path.join(self.root, d)
            if not (d.startswith("data-") and os.path.isdir(top)):
                continue
            kept = False
            for dirpath, _, names in os.walk(top):
                for f in names:
                    if not f.endswith(".parquet"):
                        continue
                    path = os.path.join(dirpath, f)
                    if os.path.relpath(path, self.root) in live:
                        kept = True
                    else:
                        os.remove(path)
            if not kept:
                shutil.rmtree(top)
