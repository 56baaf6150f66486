"""The benchmark workloads.

Each workload stages its inputs untimed (``stage``), then runs one pass of
its fixed operation sequence (``run_pass``) and checks that pass's outputs
(``check``). A pass is a closed loop with one client: every Spark job is
submitted only after the previous one has finished.

Why these (later changes cite the names):

- ``tier_refresh``: the production write path behind the BASELINE metric
  (rolled-up points/sec across 1m/1h/1d), and the only workload that
  touches ``sources.catalog``, ``plans.manifest`` and ``plans.tiers``.
- ``corpus_ops``: MinHash dedup, embedding near-dup and sessionization,
  the only operators whose cost is set by join candidates, plus the 1m
  tier read path (spine, window stats, lags, Gorilla codec) and a backtest
  shaped like the reference perf harness (``plans.pipeline``,
  ``operators.splits``). It bypasses catalog writes and the manifest.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from benchmark import inputs, procstat
from benchmark.trace import Tracer, live_files, partition_map

_HASH_MOD = 1_000_000_007


def _fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(rows, order-insensitive hash sum) of ``df`` over ``cols``."""
    r = df.agg(F.count("*"), F.sum(F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD)))).first()
    return int(r[0]), int(r[1] or 0)


class Pass:
    """What one pass measured: operation latencies and result counts."""

    def __init__(self):
        self.ops: list[tuple[str, float]] = []  # (operation, seconds)
        self.wall_s = 0.0
        self.cpu_s = 0.0  # CPU time of the process tree during the pass
        self.op_lat: list[float] = []  # latencies behind trace.op_p50_s
        self.points = 0  # work units behind points_per_cpu_s and trace.points_per_s
        self.rate_cpu_s = 0.0  # CPU seconds behind points_per_cpu_s
        self.rate_s = 0.0  # seconds behind trace.points_per_s
        self.layer: dict[str, float] = {}  # per-layer values known without the event log
        self.out: dict = {}  # results the check compares

    def timed(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.ops.append((name, time.perf_counter() - t0))
        return out


# -- tier_refresh -------------------------------------------------------------------


class TierRefresh:
    """Backfill append + refresh, then one-day appends each followed by a
    refresh, then 1m retention, on an empty warehouse every pass. Each day
    append carries the late rows the previous append held back, so the 1m
    merge-with-existing branch runs on every day refresh."""

    name = "tier_refresh"
    uses_python_workers = False
    BACKFILL_DAYS = 2
    APPEND_DAYS = 4
    ROWS_PER_DAY = 20_000
    LATE_PCT = 3
    KEEP_1M_DAYS = 2
    SERIES = ("source",)

    def stage(self, spark: SparkSession, d: str, seed: int) -> None:
        n_days = self.BACKFILL_DAYS + self.APPEND_DAYS
        self.input_dir = os.path.join(d, "input")
        rows = inputs.token_rows(spark, seed, self.ROWS_PER_DAY * n_days, n_days,
                                 late_pct=self.LATE_PCT)
        rows.write.partitionBy("batch").parquet(self.input_dir)
        self.work = d
        self.last_day = (dt.date(2026, 1, 1) + dt.timedelta(days=n_days - 1)).isoformat()

    def prepare(self, spark: SparkSession) -> None:
        self.batch_rows = {r[0]: r[1] for r in spark.read.parquet(self.input_dir)
                           .groupBy("batch").count().collect()}

    def _batch(self, spark, batches) -> DataFrame:
        return spark.read.parquet(*[os.path.join(self.input_dir, f"batch={b}")
                                    for b in batches])

    def run_pass(self, spark: SparkSession, tr: Tracer, k: int) -> Pass:
        from etna_spark.plans.tiers import TierEngine

        p = Pass()
        wh = os.path.join(self.work, f"wh{k}")
        shutil.rmtree(wh, ignore_errors=True)
        eng = TierEngine(wh, series_cols=self.SERIES)
        results = []
        batches = [list(range(self.BACKFILL_DAYS))] + [
            [self.BACKFILL_DAYS + j] for j in range(self.APPEND_DAYS)]
        t_pass, c_pass = time.perf_counter(), procstat.cpu_s()
        for i, b in enumerate(batches):
            op = "backfill" if i == 0 else f"day{i}"
            t0 = time.perf_counter()
            with tr.span(f"op.{op}") as attrs:
                eng.input.append(self._batch(spark, b))
                t_commit, c_commit = time.perf_counter(), procstat.cpu_s()
                results.append(eng.refresh(spark))
                attrs["days"] = sorted({d for r in results[-1].values()
                                        for d in r.get("partitions", [])})
            t1 = time.perf_counter()
            p.rate_cpu_s += procstat.cpu_s() - c_commit
            p.ops.append((op, t1 - t0))
            p.rate_s += t1 - t_commit
            if i > 0:
                p.op_lat.append(t1 - t_commit)
        with tr.span("op.expire"):
            p.timed("expire", lambda: eng.expire("1m", self.KEEP_1M_DAYS, self.last_day))
        p.wall_s = time.perf_counter() - t_pass
        p.cpu_s = procstat.cpu_s() - c_pass
        p.points = sum(r[t]["points_out"] for r in results for t in r if not r[t]["skipped"])
        p.out = {"engine": eng, "results": results, "batches": sum(batches, [])}
        self._layer(p, eng, results)
        return p

    def _layer(self, p: Pass, eng, results) -> None:
        tables = list(eng.tiers.values())
        files = sum(len(live_files(t)) for t in tables)
        parts = sum(len({v for vs in partition_map(t).values() for v in vs}) for t in tables)
        tier_bytes = sum(os.path.getsize(os.path.join(t.root, f))
                         for t in tables for f in live_files(t))
        points = sum(_count_rows(t) for t in tables)
        logs = [os.path.join(t.root, "_snapshots.json") for t in [eng.input, *tables]]
        p.layer.update({
            "catalog.files_per_partition": files / max(parts, 1),
            "catalog.snapshot_log_bytes": sum(os.path.getsize(x) for x in logs
                                              if os.path.exists(x)),
            "catalog.tier_bytes_per_point": tier_bytes / max(points, 1),
            "manifest.records": len(eng.manifest.records()),
            "manifest.bytes": os.path.getsize(eng.manifest.path),
            "tiers.backfill_s": p.ops[0][1],
            "tiers.rows_rewritten_per_input_row": p.points / sum(
                self.batch_rows[b] for b in p.out["batches"]),
        })
        for tier in ("1m", "1h", "1d"):
            p.layer[f"tiers.refresh_{tier}_s"] = sum(
                r[tier].get("wall_time_sec", 0.0) for r in results)

    def check(self, spark: SparkSession, p: Pass) -> list[str]:
        from etna_spark.operators.rollup import rollup, rollup_cascade
        from etna_spark.plans.tiers import _checksum_col

        eng, errors = p.out["engine"], []
        raw = self._batch(spark, p.out["batches"])
        cols = [*self.SERIES, "bucket_ts", "point_count", "value_sum",
                "value_min", "value_max", "value_sumsq"]
        r1m = rollup(raw, "1m", series_cols=self.SERIES)
        r1h = rollup_cascade(r1m, "1h", series_cols=self.SERIES)
        r1d = rollup_cascade(r1h, "1d", series_cols=self.SERIES)
        cutoff = (dt.date.fromisoformat(self.last_day)
                  - dt.timedelta(days=self.KEEP_1M_DAYS)).isoformat()
        r1m = r1m.filter(F.date_format("bucket_ts", "yyyy-MM-dd") >= cutoff)
        got = _tagged_union([(t, eng.tier_df(spark, t)) for t in ("1m", "1h", "1d")], cols)
        want = _tagged_union([("1m", r1m), ("1h", r1h), ("1d", r1d)], cols)
        for a, b, what in ((got, want, "rows no from-scratch rollup has"),
                           (want, got, "from-scratch rollup rows missing")):
            bad = [r[0] for r in a.exceptAll(b).select("tier").distinct().collect()]
            if bad:
                errors.append(f"tiers {bad}: {what}")
        latest = {}
        for r in eng.manifest.records():
            if r.get("kind") == "lineage":
                latest[(r["tier"], r["partition"])] = r
        ck = _checksum_col([*self.SERIES, "bucket_ts", "value_sum", "point_count"])
        stats = None
        for t in ("1m", "1h", "1d"):
            df = eng.tier_df(spark, t).groupBy("part_day").agg(
                F.count("*").alias("n"), F.sum(ck).alias("ck")).withColumn("tier", F.lit(t))
            stats = df if stats is None else stats.unionByName(df)
        for row in stats.collect():
            rec = latest.get((row["tier"], row["part_day"]))
            if rec is None or (rec["checksum"], rec["points_out"]) != (row["ck"], row["n"]):
                errors.append(f"lineage of {row['tier']}/{row['part_day']} does not match")
        return errors


def _tagged_union(frames: list[tuple[str, DataFrame]], cols: list[str]) -> DataFrame:
    """Union of ``frames`` projected to ``cols``, each row tagged with its tier."""
    out = None
    for tier, df in frames:
        df = df.select(F.lit(tier).alias("tier"), *cols)
        out = df if out is None else out.unionByName(df)
    return out


def _count_rows(table) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(table.root, f)).metadata.num_rows
               for f in live_files(table))


# -- 1m tier read path (run inside corpus_ops) ------------------------------------------


class ReadPath:
    """Read a 1m tier, gap-fill it, compute window/lag features on the
    filled series, and round-trip the tier through the Gorilla codec."""

    N_ROWS = 30_000
    DAYS = 1
    N_BUCKETS = 4
    SERIES = ("source", "bkt")

    def stage(self, spark: SparkSession, d: str, seed: int) -> None:
        from etna_spark.operators.rollup import rollup

        raw = inputs.token_rows(spark, seed, self.N_ROWS, self.DAYS).withColumn(
            "bkt", F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(self.N_BUCKETS)))
        self.path = os.path.join(d, "tier_1m")
        rollup(raw, "1m", series_cols=self.SERIES).write.parquet(self.path)

    def prepare(self, spark: SparkSession) -> None:
        tier = spark.read.parquet(self.path)
        self.n_obs, self.want = _fingerprint(self._points(tier), [*self.SERIES, "ts", "value"])

    def _points(self, tier: DataFrame) -> DataFrame:
        return tier.select(*self.SERIES, F.col("bucket_ts").cast("long").alias("ts"),
                           F.col("value_sum").cast("double").alias("value"))

    def run(self, spark: SparkSession, tr: Tracer, p: Pass) -> None:
        from etna_spark.codec.gorilla import decode_series, encode_series
        from etna_spark.operators.lags import lag_transform
        from etna_spark.operators.spine import ffill, interpolate_linear, regularize
        from etna_spark.operators.window_stats import window_stat

        s = list(self.SERIES)
        tier = spark.read.parquet(self.path)
        with tr.span("spine.gapfill"):
            reg = regularize(tier, "1m", series_cols=s)
            filled = ffill(reg.select(*s, "bucket_ts", F.col("value_sum").cast("double").alias("v"),
                                      F.col("value_min").cast("double").alias("vmin")),
                           ["v"], series_cols=s)
            filled = interpolate_linear(filled, ["vmin"], series_cols=s).cache()
            n_reg = p.timed("gapfill", filled.count)
        with tr.span("window.native"):
            p.timed("window_native", lambda: window_stat(
                filled, "v", "m60", "mean", window=60, series_cols=s, ts_col="bucket_ts",
            ).agg(F.sum("m60")).first())
        with tr.span("window.pudf"):
            p.timed("window_pudf", lambda: window_stat(
                filled, "v", "sm", "mean", window=3, seasonality=60, series_cols=s,
                ts_col="bucket_ts").agg(F.sum("sm")).first())
        with tr.span("lags"):
            p.timed("lags", lambda: lag_transform(
                filled, "v", [1, 60, 720], series_cols=s, ts_col="bucket_ts",
            ).agg(*[F.sum(f"v_lag_{k}") for k in (1, 60, 720)]).first())
        filled.unpersist()
        with tr.span("gorilla.encode"):
            enc = encode_series(tier, series_cols=s, ts_col="bucket_ts",
                                value_col="value_sum", chunk="day").cache()
            stats = p.timed("encode", lambda: enc.agg(
                F.sum("n_points"), F.sum(F.length("codec_blob"))).first())
        with tr.span("gorilla.decode"):
            dec = decode_series(enc, series_cols=s, ts_col="ts", value_col="value")
            got = p.timed("decode", lambda: _fingerprint(dec, [*s, "ts", "value"]))
        enc.unpersist()
        p.points += n_reg
        p.layer.update({
            "spine.fill_ratio": 1.0 - self.n_obs / n_reg,
            "gorilla.bytes_per_point": stats[1] / stats[0],
        })
        p.out.update({"decoded": got, "encoded_points": int(stats[0])})

    def check(self, p: Pass) -> list[str]:
        errors = []
        if p.out["encoded_points"] != self.n_obs:
            errors.append(f"encoded {p.out['encoded_points']} of {self.n_obs} points")
        if p.out["decoded"] != (self.n_obs, self.want):
            errors.append("decoded points differ from the encoded tier")
        return errors


# -- backtest pipeline (run inside corpus_ops) --------------------------------------------


class BacktestPath:
    """imputer(mean) -> scaler -> seasonal MA(window 3, season 7) backtest,
    horizon 14, three folds, over an AR panel with 2% of targets missing."""

    SEGMENTS = 50
    PERIODS = 712
    N_FOLDS = 3
    HORIZON = 14

    def stage(self, spark: SparkSession, d: str, seed: int) -> None:
        from etna_spark.synth_generators import generate_ar_df

        panel = generate_ar_df(spark, periods=self.PERIODS, n_segments=self.SEGMENTS,
                               ar_coef=[0.6, 0.3], random_seed=seed)
        hole = F.pmod(F.xxhash64("segment", "timestamp", F.lit(seed)), F.lit(50)) == 0
        self.path = os.path.join(d, "panel")
        panel.withColumn("target", F.when(hole, F.lit(None)).otherwise(F.col("target"))) \
            .repartition(4).write.parquet(self.path)

    def prepare(self, spark: SparkSession) -> None:
        self.want_mae = _backtest_mae_oracle(spark.read.parquet(self.path).toPandas(),
                                             self.N_FOLDS, self.HORIZON)

    def run(self, spark: SparkSession, tr: Tracer, p: Pass) -> None:
        from etna_spark.operators.imputation import TimeSeriesImputer
        from etna_spark.operators.scalers import Scaler
        from etna_spark.plans.pipeline import Pipeline, SeasonalMovingAverageModel

        keys = dict(series_cols=("segment",))
        pipe = Pipeline(
            model=SeasonalMovingAverageModel(window=3, seasonality=7),
            transforms=[TimeSeriesImputer(strategy="mean", in_col="target",
                                          ts_col="timestamp", **keys),
                        Scaler(in_col="target", **keys)],
            horizon=self.HORIZON, step_seconds=86_400, in_col="target",
            ts_col="timestamp", **keys)
        df = spark.read.parquet(self.path)
        out = p.timed("backtest_build", lambda: pipe.backtest(
            df, metrics=("mae", "mse", "smape"), n_folds=self.N_FOLDS))
        with tr.span("pipeline.action"):
            p.out["backtest"] = p.timed("backtest_action", out.collect)
        p.points += self.SEGMENTS * self.N_FOLDS * self.HORIZON

    def check(self, p: Pass) -> list[str]:
        rows, errors = p.out["backtest"], []
        if len(rows) != self.N_FOLDS * self.SEGMENTS:
            errors.append(f"{len(rows)} metric rows, want {self.N_FOLDS * self.SEGMENTS}")
        bad = [(r["fold"], r["segment"]) for r in rows
               if r["mae"] is None or not math.isclose(
                   r["mae"], self.want_mae.get((r["fold"], r["segment"]), math.nan),
                   rel_tol=1e-6, abs_tol=1e-9)]
        if bad:
            errors.append(f"mae differs from the pandas oracle for {len(bad)} "
                          f"(fold, segment) pairs, e.g. {bad[0]}")
        return errors


# -- corpus_ops -----------------------------------------------------------------------


class CorpusOps:
    """MinHash-LSH near-dup pairs over a text corpus, embedding near-dup
    pairs over a vector table, gap-rule sessions over token events, the 1m
    tier read path (``ReadPath``) and a 3-fold backtest (``BacktestPath``)."""

    name = "corpus_ops"
    uses_python_workers = True
    N_DOCS = 8_000
    N_VECS = 8_000
    N_EVENTS = 30_000
    N_USERS = 1_000
    GAP_S = 1_800
    NUM_PERM, BANDS = 16, 4
    N_PLANES, N_TABLES = 16, 4
    MAX_BUCKET = {"dedup": 500, "similarity": 200}
    THRESHOLD = {"dedup": 0.5, "similarity": 0.99}

    def __init__(self):
        self.read_path = ReadPath()
        self.backtest = BacktestPath()

    def stage(self, spark: SparkSession, d: str, seed: int) -> None:
        self.paths = {n: os.path.join(d, n) for n in ("corpus", "emb", "events")}
        inputs.corpus(spark, seed, self.N_DOCS).write.parquet(self.paths["corpus"])
        inputs.embeddings(spark, seed, self.N_VECS).write.parquet(self.paths["emb"])
        inputs.token_rows(spark, seed, self.N_EVENTS, n_days=1).select(
            F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(self.N_USERS)).alias("user_id"),
            F.col("event_ts").alias("ts"), F.col("n_tok").cast("long").alias("vc"),
        ).write.parquet(self.paths["events"])
        self.read_path.stage(spark, d, seed)
        self.backtest.stage(spark, d, seed)

    def prepare(self, spark: SparkSession) -> None:
        self.want_sessions = _sessions_oracle(
            spark.read.parquet(self.paths["events"]).toPandas(), self.GAP_S)
        emb = spark.read.parquet(self.paths["emb"]).toPandas().sort_values("vec_id")
        self.vectors = dict(zip(emb["vec_id"], np.stack(emb["embedding"].to_numpy())))
        self.read_path.prepare(spark)
        self.backtest.prepare(spark)

    def _pairs(self, pairs: DataFrame, score: str) -> dict[tuple[int, int], float]:
        return {(r[0], r[1]): r[2] for r in pairs.select("id_a", "id_b", score).collect()}

    def run_pass(self, spark: SparkSession, tr: Tracer, k: int) -> Pass:
        from etna_spark.data.dedup import minhash_band_pairs, minhash_signatures
        from etna_spark.data.similarity import embedding_neardup_pairs, embedding_signatures
        from etna_spark.operators.sessionize import session_stats

        p = Pass()
        t_pass, c_pass = time.perf_counter(), procstat.cpu_s()
        corpus = spark.read.parquet(self.paths["corpus"])
        with tr.span("dedup.signatures"):
            sigs = minhash_signatures(corpus, num_perm=self.NUM_PERM, hash_fn="xxhash").cache()
            p.timed("minhash_signatures", sigs.count)
        with tr.span("dedup.band_pairs"):
            dd = p.timed("minhash_band_pairs", lambda: self._pairs(minhash_band_pairs(
                sigs, num_perm=self.NUM_PERM, bands=self.BANDS,
                threshold=self.THRESHOLD["dedup"], max_bucket=self.MAX_BUCKET["dedup"]),
                "est_jaccard"))
        embs = spark.read.parquet(self.paths["emb"])
        nd_args = dict(id_col="vec_id", vec_col="embedding", n_planes=self.N_PLANES,
                       dim=inputs.DIM, n_tables=self.N_TABLES)
        with tr.span("similarity.signatures"):
            esig = embedding_signatures(embs, **nd_args).cache()
            p.timed("embedding_signatures", esig.count)
        with tr.span("similarity.neardup"):
            nd = p.timed("embedding_neardup", lambda: self._pairs(embedding_neardup_pairs(
                embs, threshold=self.THRESHOLD["similarity"],
                max_bucket=self.MAX_BUCKET["similarity"], signatures=esig, **nd_args),
                "cosine_sim"))
        events = spark.read.parquet(self.paths["events"])
        with tr.span("sessionize"):
            n_sess = p.timed("sessionize", session_stats(
                events, key_cols=("user_id",), ts_col="ts", gap_s=self.GAP_S,
                value_col="vc").count)
        self.read_path.run(spark, tr, p)
        self.backtest.run(spark, tr, p)
        p.wall_s = time.perf_counter() - t_pass
        p.cpu_s = procstat.cpu_s() - c_pass
        p.op_lat = [p.wall_s]
        p.points += self.N_DOCS + self.N_VECS + self.N_EVENTS
        p.rate_s, p.rate_cpu_s = p.wall_s, p.cpu_s
        p.layer.update({"dedup.pairs": len(dd), "similarity.pairs": len(nd),
                        "sessionize.sessions": n_sess})
        p.out.update({"dedup": dd, "similarity": nd, "sessions": n_sess,
                      "sigs": sigs, "esig": esig})
        return p

    def check(self, spark: SparkSession, p: Pass) -> list[str]:
        """Besides the read path, backtest and session count: replay the
        LSH banding of both pair operators on the driver, over the
        signatures the pass computed, and require exactly its pair set
        with exact scores."""
        from etna_spark.data.text import HASH_MOD

        errors = self.read_path.check(p) + self.backtest.check(p)
        if p.out["sessions"] != self.want_sessions:
            errors.append(f"{p.out['sessions']} sessions, oracle says {self.want_sessions}")
        sigs = {r[0]: np.asarray(r[1], dtype=np.int64)
                for r in p.out["sigs"].select("doc_id", "sig").collect()}
        esig = p.out["esig"].select("_id", "_table", "_sig").collect()
        p.out["sigs"].unpersist()
        p.out["esig"].unpersist()

        rows = self.NUM_PERM // self.BANDS
        members = []
        for i, s in sigs.items():
            for b in range(self.BANDS):
                acc = 0
                for x in s[b * rows:(b + 1) * rows]:
                    acc = (acc * 131 + int(x)) % HASH_MOD
                members.append(((b, acc), i))
        vecs = self.vectors
        norms = {i: np.sqrt(_dot(v, v)) for i, v in vecs.items()}
        want = {
            "dedup": _replay_bucket_pairs(
                members, self.MAX_BUCKET["dedup"], self.THRESHOLD["dedup"],
                lambda a, b: np.count_nonzero(sigs[a] == sigs[b]) / self.NUM_PERM),
            "similarity": _replay_bucket_pairs(
                [((t, s), i) for i, t, s in esig], self.MAX_BUCKET["similarity"],
                self.THRESHOLD["similarity"],
                lambda a, b: _dot(vecs[a], vecs[b]) / (norms[a] * norms[b])),
        }
        for op, exp in want.items():
            got = p.out[op]
            if got.keys() != exp.keys():
                errors.append(f"{op}: {len(got.keys() - exp.keys())} pairs the replayed "
                              f"banding does not give, {len(exp.keys() - got.keys())} missing")
            elif any(abs(got[ab] - exp[ab]) > 1e-12 for ab in exp):
                errors.append(f"{op}: a pair's score differs from the replayed one")
        return errors


def _dot(a: np.ndarray, b: np.ndarray) -> float:
    """Left-to-right float64 dot product, the summation order of the
    engine's ``similarity.dot``."""
    return float(np.cumsum(a.astype(np.float64) * b.astype(np.float64))[-1])


def _replay_bucket_pairs(members, max_bucket: int, threshold: float, score) -> dict:
    """The pairs ``bucket_pairs`` gives, replayed on the driver: ids that share
    a bucket of 2 to ``max_bucket`` members, as ``(smaller, larger)``, kept
    when ``score(a, b)`` reaches ``threshold``."""
    buckets: dict = {}
    for key, i in members:
        buckets.setdefault(key, []).append(i)
    pairs = {ab for ids in buckets.values() if 2 <= len(ids) <= max_bucket
             for ab in itertools.combinations(sorted(ids), 2)}
    scores = {ab: score(*ab) for ab in pairs}
    return {ab: s for ab, s in scores.items() if s >= threshold}


def _backtest_mae_oracle(panel, n_folds: int, horizon: int) -> dict:
    """Per (fold, segment) MAE of the backtest pipeline, computed in numpy:
    the imputer fills gaps after the first valid value with the train mean,
    the scaler standardizes by the train mean and population std, the
    seasonal MA forecasts recursively, and MAE skips missing actuals."""
    day = np.timedelta64(1, "D")
    panel = panel.sort_values(["segment", "timestamp"], kind="mergesort")
    last = panel["timestamp"].max().to_datetime64()
    out = {}
    for fold in range(n_folds):
        test_end = last - day * ((n_folds - 1 - fold) * horizon)
        train_end = test_end - day * horizon
        for seg, g in panel.groupby("segment"):
            ts = g["timestamp"].to_numpy().astype("datetime64[ns]")
            y = g["target"].to_numpy(dtype=np.float64)
            train, test = y[ts <= train_end], y[(ts > train_end) & (ts <= test_end)]
            valid = np.flatnonzero(~np.isnan(train))
            filled = train.copy()
            mean = train[valid].mean()
            gaps = np.isnan(filled)
            gaps[:valid[0]] = False
            filled[gaps] = mean
            std = np.nanstd(filled)
            scale = std if std != 0 else 1.0
            hist = list((filled - mean) / scale)
            for _ in range(horizon):
                past = [hist[-k] for k in (7, 14, 21) if len(hist) >= k]
                hist.append(np.nanmean(past) if past else np.nan)
            pred = np.asarray(hist[-horizon:]) * scale + mean
            keep = ~np.isnan(test)
            out[(fold, seg)] = float(np.abs(test[keep] - pred[keep]).mean())
    return out


def _sessions_oracle(ev, gap_s: int) -> int:
    """Session count by the gap rule, computed in pandas."""
    ev = ev.sort_values(["user_id", "ts"], kind="mergesort")
    ts = ev["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    users = ev["user_id"].to_numpy()
    new_user = users[1:] != users[:-1]
    gap = (ts[1:] - ts[:-1]) > gap_s * 1_000_000
    return int(1 + (new_user | gap).sum()) if len(ev) else 0


WORKLOADS = {w.name: w for w in (TierRefresh, CorpusOps)}
