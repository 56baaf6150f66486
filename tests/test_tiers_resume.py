"""Tier engine tests (FIXTURES.md §B5): incremental refresh ≡ full
recompute, rerun-after-kill is a no-op, retention drops partitions,
token-array invariance through the pipeline."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from etna_spark.operators.rollup import rollup
from etna_spark.plans.tiers import TierEngine, _checksum_col
from etna_spark.synth import token_table


@pytest.fixture(scope="module")
def tokens_df(spark):
    return token_table(spark, 4000, with_tokens=False).cache()


def _tiers_equal(a, b, keys=("source", "bucket_ts")):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_refresh_equals_full(spark, tokens_df, tmp_path):
    """Two-snapshot ingestion (70/30 split) then refresh twice ≡ one-shot."""
    inc = TierEngine(str(tmp_path / "inc"))
    full = TierEngine(str(tmp_path / "full"))

    part1 = tokens_df.filter(F.xxhash64("doc_id") % 10 < 7)
    part2 = tokens_df.filter(F.xxhash64("doc_id") % 10 >= 7)

    inc.input.append(part1)
    r1 = inc.refresh(spark)
    assert not r1["1m"]["skipped"]
    inc.input.append(part2)
    r2 = inc.refresh(spark)
    assert not r2["1m"]["skipped"]

    full.input.append(tokens_df)
    full.refresh(spark)

    for tier in ("1m", "1h", "1d"):
        a = inc.tier_df(spark, tier)
        b = full.tier_df(spark, tier)
        assert _tiers_equal(a, b), f"tier {tier} incremental != full"
        # and both equal a direct rollup from raw
        direct = rollup(tokens_df, tier).withColumn(
            "part_day", F.date_format("bucket_ts", "yyyy-MM-dd")
        )
        assert _tiers_equal(a.select(*direct.columns), direct)


def test_rerun_is_noop(spark, tokens_df, tmp_path):
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    snap_before = {t: eng.tiers[t].current_snapshot_id() for t in ("1m", "1h", "1d")}
    r = eng.refresh(spark)  # nothing new appended
    assert all(v["skipped"] for v in r.values())
    snap_after = {t: eng.tiers[t].current_snapshot_id() for t in ("1m", "1h", "1d")}
    assert snap_before == snap_after


def test_resume_after_kill(spark, tokens_df, tmp_path):
    """Checkpoint = snapshot property → data commit + watermark advance are
    atomic. Kill scenarios:
    (a) mid-write (staged files exist, log not swapped) → rerun converges to
        the clean result, orphans ignored;
    (b) after commit → rerun is a no-op with identical content."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)

    extra = token_table(spark, 500, with_tokens=False).withColumn(
        "doc_id", F.concat(F.lit("x_"), "doc_id")
    )
    eng.input.append(extra)

    # (a) simulate a job killed mid-write: stage orphan files into the tier
    # table dir without committing the snapshot log
    eng.tiers["1m"]._stage_df(extra.limit(10))
    eng.refresh(spark)
    content = sorted(map(tuple, eng.tier_df(spark, "1m").collect()))

    # reference: clean engine over the same total input
    clean = TierEngine(str(tmp_path / "clean"))
    clean.input.append(tokens_df)
    clean.input.append(extra)
    clean.refresh(spark)
    expected = sorted(map(tuple, clean.tier_df(spark, "1m").collect()))
    assert content == expected

    # (b) rerun after successful commit: no-op, identical content
    r = eng.refresh(spark)
    assert all(v["skipped"] for v in r.values())
    again = sorted(map(tuple, eng.tier_df(spark, "1m").collect()))
    assert again == content


def test_lineage_and_metrics_recorded(spark, tokens_df, tmp_path):
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    recs = eng.manifest.records()
    kinds = {r["kind"] for r in recs}
    assert {"watermark", "lineage", "metrics"} <= kinds
    lineage = [r for r in recs if r["kind"] == "lineage" and r["tier"] == "1m"]
    assert lineage and all(
        {"partition", "rows_in", "points_out", "checksum"} <= set(r) for r in lineage
    )
    # lineage rows_in must cover the full input
    assert sum(r["rows_in"] for r in lineage) == tokens_df.count()


def test_retention_expires_partitions(spark, tokens_df, tmp_path):
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    days = sorted(
        r[0] for r in eng.tier_df(spark, "1m").select("part_day").distinct().collect()
    )
    assert len(days) >= 3  # synth window spans 3+ days
    victims = eng.expire("1m", keep_days=1, now_day=days[-1])
    assert victims == days[:-2]
    left = sorted(
        r[0] for r in eng.tier_df(spark, "1m").select("part_day").distinct().collect()
    )
    assert left == days[-2:]
    # other tiers untouched
    assert eng.tier_df(spark, "1d").select("part_day").distinct().count() == len(days)


def test_refresh_after_retention_no_double_count(spark, tokens_df, tmp_path):
    """Retention must not erase the tier watermark (snapshot properties):
    a refresh after expire sees only the NEW delta — no re-read of the whole
    input, no sum-merge double-counting, no resurrection of expired days."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tokens_df)
    eng.refresh(spark)
    days = sorted(
        r[0] for r in eng.tier_df(spark, "1m").select("part_day").distinct().collect()
    )
    victims = eng.expire("1m", keep_days=1, now_day=days[-1])
    assert victims  # something actually expired

    # new data lands only in the surviving (latest) days
    extra = (
        token_table(spark, 500, with_tokens=False)
        .withColumn("doc_id", F.concat(F.lit("y_"), "doc_id"))
        .filter(F.date_format(F.date_trunc("minute", "event_ts"), "yyyy-MM-dd")
                .isin(days[-2:]))
    )
    assert extra.count() > 0
    eng.input.append(extra)
    r = eng.refresh(spark)
    assert not r["1m"]["skipped"]
    # only surviving-day partitions were touched
    assert set(r["1m"]["partitions"]) <= set(days[-2:])

    got = eng.tier_df(spark, "1m")
    # expired days stay expired
    left = {x[0] for x in got.select("part_day").distinct().collect()}
    assert left == set(days[-2:])
    # surviving days match a clean recompute over the full input (no
    # double-counted aggregates)
    expected = (
        rollup(tokens_df.unionByName(extra), "1m")
        .withColumn("part_day", F.date_format("bucket_ts", "yyyy-MM-dd"))
        .filter(F.col("part_day").isin(days[-2:]))
    )
    assert _tiers_equal(got.select(*expected.columns), expected)


def test_token_arrays_flow_through_untouched(spark, tmp_path):
    """input_hint invariant: the tokens column is byte-identical end-to-end
    through catalog append/read (the engine never mutates it)."""
    tt = token_table(spark, 300, with_tokens=True)
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(tt)
    back = eng.input.read(spark)
    orig = {r["doc_id"]: r["tokens"] for r in tt.collect()}
    got = {r["doc_id"]: r["tokens"] for r in back.collect()}
    assert orig == got
    checks = (
        back.withColumn(
            "ok",
            (F.size("tokens") == F.col("n_tok"))
            & (
                F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)
                == F.aggregate(
                    "tokens", F.lit(0).cast("long"), lambda a, x: a + x
                )
            ),
        )
        .agg(F.min("ok"))
        .collect()[0][0]
    )
    assert checks is True


def _days_df(spark, n_days, start_day=0, per_day=400):
    """``per_day`` token rows spread evenly over each of ``n_days`` UTC days,
    starting ``start_day`` days after 2026-01-01."""
    return spark.range(n_days * per_day).select(
        (F.col("id") % 3).cast("string").alias("source"),
        F.timestamp_seconds(
            F.lit(1_767_225_600 + start_day * 86_400) + F.col("id") * (86_400 // per_day)
        ).alias("event_ts"),
        (F.col("id") % 7).cast("int").alias("n_tok"),
    )


def _refresh_jobs(spark, eng) -> int:
    """Number of Spark jobs one ``eng.refresh`` runs."""
    sc = spark.sparkContext
    group = f"refresh-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tier refresh job count")
    try:
        eng.refresh(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_refresh_job_count_does_not_grow_with_days(spark, tmp_path):
    """A refresh runs a fixed number of Spark jobs whatever the number of
    affected days: one aggregate and one partitioned write per tier, no
    per-day write, no schema-inference or re-read job."""
    backfill, append = {}, {}
    for n in (2, 6, 30):
        eng = TierEngine(str(tmp_path / f"wh{n}"))
        eng.input.append(_days_df(spark, n))
        backfill[n] = _refresh_jobs(spark, eng)
        # one more day: the 1m tier merges with its existing rows
        eng.input.append(_days_df(spark, 1, start_day=n))
        append[n] = _refresh_jobs(spark, eng)
    assert backfill[2] == backfill[6]
    assert append[2] == append[6] == append[30]
    # the only jobs that may grow with the day count are Spark's parallel
    # file listings: a read of more than 32 paths
    # (spark.sql.sources.parallelPartitionDiscovery.threshold) lists them
    # in one job, at most once per read, and a backfill makes three reads
    assert backfill[2] <= backfill[30] <= backfill[2] + 3


def test_lineage_matches_table_and_expire_leaves_no_orphans(spark, tmp_path):
    """After a day append that carries late rows of an earlier day, the
    latest lineage record of every tier partition equals a re-read of the
    written table; after retention no unreferenced data file remains under
    the nested ``_p=<day>`` layout."""
    eng = TierEngine(str(tmp_path / "wh"))
    eng.input.append(_days_df(spark, 3))
    eng.refresh(spark)
    late = _days_df(spark, 1, start_day=1, per_day=50)
    eng.input.append(_days_df(spark, 1, start_day=3).unionByName(late))
    r = eng.refresh(spark)
    assert sorted(r["1m"]["partitions"]) == ["2026-01-02", "2026-01-04"]

    latest = {}
    for rec in eng.manifest.records():
        if rec["kind"] == "lineage":
            latest[(rec["tier"], rec["partition"])] = rec
    ck = _checksum_col(["source", "bucket_ts", "value_sum", "point_count"])
    for tier in ("1m", "1h", "1d"):
        written = {
            x["part_day"]: (x["n"], x["ck"])
            for x in eng.tier_df(spark, tier).groupBy("part_day")
            .agg(F.count("*").alias("n"), F.sum(ck).alias("ck")).collect()
        }
        logged = {p: (rec["points_out"], rec["checksum"])
                  for (t, p), rec in latest.items() if t == tier}
        assert logged == written, tier

    assert eng.expire("1m", keep_days=1, now_day="2026-01-04") == [
        "2026-01-01", "2026-01-02"]
    table = eng.tiers["1m"]
    live = {os.path.join(table.root, f) for s in table.snapshots() for f in s.files}
    on_disk = {
        os.path.join(d, f)
        for d, _, names in os.walk(table.root) for f in names if f.endswith(".parquet")
    }
    assert on_disk == live
    assert all(os.path.basename(os.path.dirname(f)).startswith("_p=") for f in live)
