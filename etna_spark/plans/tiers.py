"""Continuous-aggregate tier engine: incremental 1m/1h/1d refresh + retention.

The north-rule core. Tier tables are snapshot-versioned parquet tables
partitioned by day (``part_day``, one directory per day in each write); a
refresh is INCREMENTAL end-to-end:

- 1m tier: read only input rows appended after the recorded watermark
  (snapshot high-water mark), partially aggregate them, MERGE with the
  existing rows of the affected day partitions (all aggregates are
  algebraic: sum/count/min/max/sumsq — SURVEY.md §2.4), overwrite exactly
  those partitions;
- 1h / 1d tiers: the finer tier is itself the snapshot-versioned input; the
  partitions of its delta files name the affected days, which are
  recomputed from the finer tier's current content for just those days
  (cascade — never touches raw input);
- after each tier commit the watermark is advanced in the manifest, with
  per-partition lineage (rows in, points out, wall time, checksum) and run
  metrics. A crash before the watermark write makes the rerun reprocess the
  same delta into the same partitions — the overwrite is idempotent, so
  resume-after-kill is exact (tests/test_tiers_resume.py).

Scale: work per refresh is O(delta + affected-partition size), never O(table).
Reads of existing tier rows open only the files of the affected days
(``read_partitions``, pruned by the catalog's partition sidecar); the rollup
shuffle carries partial aggregates only. A tier refresh runs a fixed handful
of Spark jobs whatever the number of affected days: one aggregate over the
cached merged frame yields the lineage, and one partitioned write commits it.
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etna_spark.operators.rollup import TIERS, bucket, rollup
from etna_spark.plans.manifest import Manifest
from etna_spark.sources.catalog import ParquetSnapshotTable

def _merge_aggs() -> list[F.Column]:
    # built lazily: Column construction needs an active SparkContext
    return [
        F.sum("point_count").alias("point_count"),
        F.sum("value_sum").alias("value_sum"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
        F.sum("value_sumsq").alias("value_sumsq"),
    ]

# order-insensitive per-partition fingerprint: sum of bounded row hashes
# (bounded so a long sum cannot overflow under ANSI mode)
_HASH_MOD = 1_000_000_007


def _checksum_col(cols: Sequence[str]) -> F.Column:
    return F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))


class TierEngine:
    CASCADE = (("1m", None), ("1h", "1m"), ("1d", "1h"))

    def __init__(
        self,
        warehouse: str,
        series_cols: Sequence[str] = ("source",),
        ts_col: str = "event_ts",
        value_col: str = "n_tok",
        sum_is_exact: bool = True,
    ):
        self.warehouse = warehouse
        self.series_cols = list(series_cols)
        self.ts_col = ts_col
        self.value_col = value_col
        self.sum_is_exact = sum_is_exact
        self.input = ParquetSnapshotTable(os.path.join(warehouse, "input"))
        self.tiers = {
            t: ParquetSnapshotTable(os.path.join(warehouse, f"tier_{t}"))
            for t, _ in self.CASCADE
        }
        self.manifest = Manifest(os.path.join(warehouse, "manifest.jsonl"))

    # -- helpers ---------------------------------------------------------------

    @staticmethod
    def _with_part_day(df: DataFrame) -> DataFrame:
        return df.withColumn("part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))

    def _tier_rows_schema_cols(self) -> list[str]:
        return [*self.series_cols, "bucket_ts", "point_count", "value_sum",
                "value_min", "value_max", "value_sumsq", "part_day"]

    # -- refresh ---------------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict[str, dict]:
        """Incrementally refresh every tier; returns per-tier run stats."""
        out = {}
        for tier, parent in self.CASCADE:
            out[tier] = self._refresh_tier(spark, tier, parent)
        return out

    def _refresh_tier(self, spark: SparkSession, tier: str, parent: str | None) -> dict:
        t0 = time.time()
        run_id = Manifest.new_run_id()
        src = self.input if parent is None else self.tiers[parent]
        cur_snap = src.current_snapshot_id()
        # Source of truth for the checkpoint: the tier table's own snapshot
        # properties (Iceberg snapshot.summary) — the data commit and the
        # watermark advance are ONE atomic log swap, so no crash window can
        # double-apply a delta. The manifest watermark record is
        # observability only.
        wm = int(self.tiers[tier].latest_property("input_snapshot_id", 0))
        skipped = {"run_id": run_id, "tier": tier, "skipped": True,
                   "input_snapshot_id": cur_snap}
        if cur_snap <= wm:
            return skipped

        table = self.tiers[tier]
        cols = self._tier_rows_schema_cols()
        if parent is None:
            # raw → 1m: partial-agg the delta, merge with affected partitions
            delta = src.read_delta(spark, wm, cur_snap)
            if delta is None:
                return skipped
            # the one aggregate over the delta: rows_in per day, whose keys
            # are the affected days
            rows_in_by_day = {
                r["d"]: r["c"]
                for r in delta.groupBy(
                    F.date_format(bucket(self.ts_col, tier), "yyyy-MM-dd").alias("d")
                ).agg(F.count("*").alias("c")).collect()
            }
            days = sorted(rows_in_by_day)
            merged = self._with_part_day(
                rollup(
                    delta, tier, series_cols=self.series_cols, ts_col=self.ts_col,
                    value_col=self.value_col, sum_is_exact=self.sum_is_exact,
                )
            ).select(*cols)
            existing = table.read_partitions(spark, days)
            if existing is not None:
                merged = existing.select(*cols).unionByName(merged)
            # hash by day: the merge, the lineage aggregate and the write
            # below need no further shuffle
            merged = (
                merged.repartition("part_day")
                .groupBy(*self.series_cols, "bucket_ts", "part_day")
                .agg(*_merge_aggs())
            )
        else:
            # cascade: the affected days are the partitions of the finer
            # tier's delta files (sidecar, no Spark job); recompute them from
            # the finer tier's current content, counting its rows on the way
            days = sorted(set().union(*src.partitions(wm, cur_snap).values()))
            if not days:
                return skipped
            merged = self._with_part_day(
                src.read_partitions(spark, days).groupBy(
                    *self.series_cols, bucket("bucket_ts", tier).alias("bucket_ts")
                ).agg(*_merge_aggs(), F.count("*").alias("_rows_in"))
            ).repartition("part_day")

        # each day's rows sit in one task, so the partitioned write opens one
        # file per day
        merged = merged.cache()
        try:
            # lineage from the pass that is written: one aggregate over the
            # cached frame, then the write reads the same cache
            stats = merged.groupBy("part_day").agg(
                F.count("*").alias("points_out"),
                F.sum(_checksum_col([*self.series_cols, "bucket_ts", "value_sum",
                                     "point_count"])).alias("checksum"),
                *([] if parent is None else [F.sum("_rows_in").alias("rows_in")]),
            ).collect()
            new_snap = table.overwrite_partitions(
                merged.select(*cols), "part_day", days,
                properties={"input_snapshot_id": cur_snap, "run_id": run_id},
            )
        finally:
            merged.unpersist()
        wall = time.time() - t0
        if parent is not None:
            rows_in_by_day = {r["part_day"]: r["rows_in"] for r in stats}
        for r in stats:
            self.manifest.log_lineage(
                run_id=run_id, tier=tier, partition=r["part_day"],
                rows_in=int(rows_in_by_day.get(r["part_day"], 0)),
                points_out=int(r["points_out"]), wall_time_sec=wall,
                checksum=int(r["checksum"]), input_snapshot_id=cur_snap,
            )
        rows_in_total = int(sum(rows_in_by_day.values()))
        points_out = sum(int(r["points_out"]) for r in stats)
        self.manifest.log_metrics(
            run_id, tier, rows_in=rows_in_total, points_out=points_out,
            partitions=len(days), wall_time_sec=wall,
            input_snapshot_id=cur_snap, output_snapshot_id=new_snap,
        )
        # commit point: advancing the watermark AFTER the data commit makes
        # a crash anywhere above replay-safe (idempotent overwrite)
        self.manifest.set_watermark(tier, cur_snap, run_id)
        return {
            "run_id": run_id, "tier": tier, "skipped": False,
            "rows_in": rows_in_total, "points_out": points_out,
            "partitions": days, "wall_time_sec": wall,
            "input_snapshot_id": cur_snap,
        }

    # -- retention ---------------------------------------------------------------

    def expire(self, tier: str, keep_days: int, now_day: str) -> list[str]:
        """Retention: drop tier partitions older than ``now_day - keep_days``
        (partition-predicate DELETE + expire_snapshots, SURVEY.md §2.12)."""
        import datetime as dt

        cutoff = (
            dt.date.fromisoformat(now_day) - dt.timedelta(days=keep_days)
        ).isoformat()
        table = self.tiers[tier]
        all_days = set().union(*table.partitions().values())
        victims = sorted(d for d in all_days if d < cutoff)
        if victims:
            table.drop_partitions(victims)
            table.compact_files()
        return victims

    def tier_df(self, spark: SparkSession, tier: str) -> DataFrame:
        return self.tiers[tier].read(spark)
