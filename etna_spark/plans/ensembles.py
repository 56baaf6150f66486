"""Forecast ensembles: voting and direct.

Reference parity:
- VotingEnsemble (/root/reference/etna/ensembles/voting_ensemble.py:22-238):
  weighted mean of the base pipelines' forecasts; weights are uniform, an
  explicit list (normalized), or 'auto' — tree importances of each base
  forecast as a predictor of the actuals over the backtest span
  (_process_weights, voting_ensemble.py:128-157). The reference's
  RandomForestRegressor becomes the engine's own numpy Extra-Trees
  importance (operators/feature_selection.py — sklearn is unavailable).
- DirectEnsemble (/root/reference/etna/ensembles/direct_ensemble.py:20-150):
  base pipelines with pairwise-different horizons; forecast step s comes
  from the pipeline with the SMALLEST horizon covering s (_merge,
  direct_ensemble.py:127-140).

Spark shape: each base forecast is a tiny (#series × horizon) frame; the
vote is one multi-way equi-join + a weighted-sum projection, the direct
merge is a union + min_by per timestamp. Fitting the base pipelines is the
expensive part and each fit is an independent lineage the cluster runs
concurrently — the reference's joblib fan-out is ordinary scheduling here.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _validate_common(pipelines) -> None:
    if len(pipelines) < 2:
        raise ValueError("At least two pipelines are expected.")
    base = pipelines[0]
    for p in pipelines[1:]:
        if (
            p.series_cols != base.series_cols
            or p.ts_col != base.ts_col
            or p.in_col != base.in_col
            or p.step_seconds != base.step_seconds
        ):
            raise ValueError(
                "All the pipelines should share series/ts/target columns "
                "and frequency."
            )


class VotingEnsemble:
    def __init__(
        self,
        pipelines: Sequence,
        weights: Sequence[float] | str | None = None,
        n_folds: int = 3,
        max_rows: int = 100_000,
        seed: int = 0,
        auto_backend: str = "mllib",
    ):
        if auto_backend not in ("mllib", "inprocess"):
            raise ValueError("auto_backend must be 'mllib' or 'inprocess'")
        _validate_common(pipelines)
        if len({p.horizon for p in pipelines}) != 1:
            raise ValueError("All the pipelines should have the same horizon.")
        if weights is None or weights == "auto":
            pass
        elif isinstance(weights, (list, tuple)):
            if len(weights) != len(pipelines):
                raise ValueError(
                    "Weights size should be equal to pipelines number."
                )
        else:
            raise ValueError("Invalid format of weights is passed!")
        self.pipelines = list(pipelines)
        self.weights = weights
        self.n_folds = n_folds
        self.max_rows = max_rows
        self.seed = seed
        self.auto_backend = auto_backend
        self.horizon = pipelines[0].horizon
        self.processed_weights: list[float] | None = None
        self._train: DataFrame | None = None

    def fit(self, df: DataFrame) -> "VotingEnsemble":
        for p in self.pipelines:
            p.fit(df)
        self._train = df
        self.processed_weights = self._process_weights(df)
        return self

    def _process_weights(self, df: DataFrame) -> list[float]:
        if self.weights is None:
            w = [1.0] * len(self.pipelines)
        elif self.weights == "auto":
            base = self.pipelines[0]
            keys = [*base.series_cols, base.ts_col]
            joined = None
            for i, p in enumerate(self.pipelines):
                h = p.get_historical_forecasts(df, n_folds=self.n_folds)
                sel = h.select(
                    *keys,
                    *([base.in_col] if i == 0 else []),
                    F.col("prediction").alias(f"_p{i}"),
                )
                joined = sel if joined is None else joined.join(sel, on=keys)
            joined = joined.dropna()
            cols = [f"_p{i}" for i in range(len(self.pipelines))]
            if self.auto_backend == "mllib":
                # reference _process_weights fits a RandomForestRegressor on
                # (base forecasts → actuals) and uses feature importances
                # (voting_ensemble.py:128-157). MLlib's forest IS that fit,
                # distributed: histogram-based split finding from aggregated
                # sufficient statistics — no toPandas, no row cap, scales
                # with the design frame instead of the driver.
                from pyspark.ml.feature import VectorAssembler
                from pyspark.ml.regression import RandomForestRegressor

                feat = VectorAssembler(
                    inputCols=cols, outputCol="_features"
                ).transform(joined)
                model = RandomForestRegressor(
                    featuresCol="_features", labelCol=base.in_col,
                    numTrees=50, maxDepth=8, seed=self.seed,
                ).fit(feat)
                w = list(model.featureImportances.toArray())
            else:
                # in-process numpy Extra-Trees on a bounded deterministic
                # sample — the no-JVM-ML fallback
                from etna_spark.operators.feature_selection import (
                    _extra_trees_importance,
                )

                n = joined.count()
                if n > self.max_rows:
                    # keep a row by a seeded hash of its keys, not by its
                    # position in a partition: the sample and, sorted by
                    # keys, the design frame do not depend on row order
                    joined = joined.filter(
                        F.pmod(F.xxhash64(F.lit(self.seed), *keys), F.lit(n))
                        < self.max_rows
                    )
                pdf = joined.toPandas().sort_values(
                    keys, kind="mergesort", ignore_index=True
                )
                imp = _extra_trees_importance(
                    pdf[cols].to_numpy(np.float64),
                    pdf[base.in_col].to_numpy(np.float64),
                    seed=self.seed,
                )
                w = list(imp)
        else:
            w = list(self.weights)
        total = sum(w)
        return [x / total for x in w]

    def forecast(self) -> DataFrame:
        if self.processed_weights is None:
            raise ValueError("VotingEnsemble is not fitted!")
        base = self.pipelines[0]
        keys = [*base.series_cols, base.ts_col]
        joined = None
        for i, p in enumerate(self.pipelines):
            fc = p.forecast().select(
                *keys, F.col(base.in_col).alias(f"_p{i}")
            )
            joined = fc if joined is None else joined.join(fc, on=keys)
        vote = sum(
            (F.lit(w) * F.col(f"_p{i}")
             for i, w in enumerate(self.processed_weights[1:], start=1)),
            F.lit(self.processed_weights[0]) * F.col("_p0"),
        )
        return joined.select(*keys, vote.alias(base.in_col))


class StackingEnsemble:
    """Meta-model over the base pipelines' forecasts (reference
    ensembles/stacking_ensemble.py:26-250). The reference's default
    final_model is sklearn LinearRegression; here the meta-model is OLS
    with intercept fitted from EXACT normal-equation sufficient statistics
    — one distributed aggregation builds XᵀX / Xᵀy (a (k+1)² scalar block
    for k base pipelines), the tiny solve happens on the driver, and the
    final forecast is a JVM-side affine projection over the joined base
    forecasts. No training data ever moves to the driver."""

    def __init__(self, pipelines: Sequence, n_folds: int = 3,
                 solver: str = "lstsq"):
        _validate_common(pipelines)
        if len({p.horizon for p in pipelines}) != 1:
            raise ValueError("All the pipelines should have the same horizon.")
        if solver not in ("lstsq", "cramer"):
            raise ValueError("solver must be 'lstsq' or 'cramer'")
        self.pipelines = list(pipelines)
        self.n_folds = n_folds
        self.solver = solver
        self.horizon = pipelines[0].horizon
        self.intercept_: float | None = None
        self.coef_: list[float] | None = None

    def fit(self, df: DataFrame) -> "StackingEnsemble":
        from etna_spark.plans.state import materialize

        for p in self.pipelines:
            p.fit(df)
        base = self.pipelines[0]
        keys = [*base.series_cols, base.ts_col]
        joined = None
        for i, p in enumerate(self.pipelines):
            h = p.get_historical_forecasts(df, n_folds=self.n_folds)
            sel = h.select(
                *keys,
                *([base.in_col] if i == 0 else []),
                F.col("prediction").alias(f"_p{i}"),
            )
            joined = sel if joined is None else joined.join(sel, on=keys)
        # pin the design frame: it is small (#series × n_folds·horizon) but
        # its lineage is every fold's fit+forecast — callers that want
        # in-sample diagnostics reuse it instead of re-running the folds
        joined = materialize(joined.dropna())
        self._design = joined
        k = len(self.pipelines)
        if self.solver == "cramer":
            return self._fit_cramer(joined, base, k)
        feats = [F.lit(1.0)] + [F.col(f"_p{i}") for i in range(k)]
        y = F.col(base.in_col)
        exprs = []
        for i in range(k + 1):
            for j in range(i, k + 1):
                exprs.append(F.sum(feats[i] * feats[j]).alias(f"_a_{i}_{j}"))
            exprs.append(F.sum(feats[i] * y).alias(f"_b_{i}"))
        row = joined.agg(*exprs).collect()[0]
        if row["_a_0_0"] is None:
            raise ValueError(
                "There aren't enough overlapping historical forecasts to "
                "fit the stacking meta-model — every design row was "
                "dropped. Increase history length or n_folds."
            )
        a = np.empty((k + 1, k + 1))
        b = np.empty(k + 1)
        for i in range(k + 1):
            for j in range(i, k + 1):
                a[i, j] = a[j, i] = row[f"_a_{i}_{j}"]
            b[i] = row[f"_b_{i}"]
        # lstsq: collinear base forecasts (e.g. two identical models) get
        # the minimum-norm solution instead of a singular-matrix error
        sol = np.linalg.lstsq(a, b, rcond=None)[0]
        self.intercept_ = float(sol[0])
        self.coef_ = [float(c) for c in sol[1:]]
        return self

    def _fit_cramer(self, joined: DataFrame, base, k: int) -> "StackingEnsemble":
        """Deterministic two-base solve from INTEGER-EXACT sufficient
        statistics: features scaled ×2 must be integral (integer-cent /
        token-count pipelines — naive and SMA(window=2) predictions are
        integers and half-integers), so every Σqᵢqⱼ is one exact BIGINT
        under any aggregation order, and the closed-form Cramer solve is a
        fixed float op sequence a SQL oracle can replay bit-for-bit.
        Raises on a singular design (use the lstsq solver for collinear
        bases)."""
        if k != 2:
            raise NotImplementedError("cramer solver supports exactly 2 bases")
        q = [F.lit(2).cast("long")] + [
            F.round(F.col(f"_p{i}") * 2, 0).cast("long") for i in range(k)
        ]
        y2 = F.round(F.col(base.in_col) * 2, 0).cast("long")
        exprs = []
        for i in range(k + 1):
            for j in range(i, k + 1):
                exprs.append(F.sum(q[i] * q[j]).alias(f"_a_{i}_{j}"))
            exprs.append(F.sum(q[i] * y2).alias(f"_b_{i}"))
        # integrality validation in the SAME pass: if any ×2-scaled value
        # is not integral, the round() would silently perturb the normal
        # equations — fail loudly instead of returning wrong coefficients
        half_cols = [F.col(f"_p{i}") for i in range(k)] + [F.col(base.in_col)]
        exprs.append(
            F.max(F.greatest(*[
                F.abs(c * 2 - F.round(c * 2, 0)) for c in half_cols
            ])).alias("_dev")
        )
        row = joined.agg(*exprs).collect()[0]
        if row["_dev"] is not None and row["_dev"] != 0.0:
            raise ValueError(
                "solver='cramer' requires integer/half-integer base "
                f"forecasts and targets (max ×2-scale deviation "
                f"{row['_dev']!r}) — use solver='lstsq'."
            )
        if row["_a_0_0"] is None:
            raise ValueError(
                "There aren't enough overlapping historical forecasts to "
                "fit the stacking meta-model — every design row was "
                "dropped. Increase history length or n_folds."
            )
        # qᵢqⱼ carries the ×2 scale twice → /4 recovers XᵀX; qᵢ·2y → /4
        # recovers Xᵀy. float(BIGINT) rounds-to-nearest identically in any
        # engine, so downstream arithmetic matches the SQL twin exactly.
        a = [[float(row[f"_a_{min(i, j)}_{max(i, j)}"]) / 4.0
              for j in range(3)] for i in range(3)]
        b = [float(row[f"_b_{i}"]) / 4.0 for i in range(3)]
        m00 = a[1][1] * a[2][2] - a[1][2] * a[2][1]
        m01 = a[1][0] * a[2][2] - a[1][2] * a[2][0]
        m02 = a[1][0] * a[2][1] - a[1][1] * a[2][0]
        det = a[0][0] * m00 - a[0][1] * m01 + a[0][2] * m02
        if det == 0.0:
            raise ValueError(
                "Singular stacking design (collinear base forecasts) — "
                "use solver='lstsq'."
            )
        d0 = (b[0] * m00
              - a[0][1] * (b[1] * a[2][2] - a[1][2] * b[2])
              + a[0][2] * (b[1] * a[2][1] - a[1][1] * b[2]))
        d1 = (a[0][0] * (b[1] * a[2][2] - a[1][2] * b[2])
              - b[0] * m01
              + a[0][2] * (a[1][0] * b[2] - b[1] * a[2][0]))
        d2 = (a[0][0] * (a[1][1] * b[2] - b[1] * a[2][1])
              - a[0][1] * (a[1][0] * b[2] - b[1] * a[2][0])
              + b[0] * m02)
        self.intercept_ = d0 / det
        self.coef_ = [d1 / det, d2 / det]
        return self

    def forecast(self) -> DataFrame:
        if self.coef_ is None:
            raise ValueError("StackingEnsemble is not fitted!")
        base = self.pipelines[0]
        keys = [*base.series_cols, base.ts_col]
        joined = None
        for i, p in enumerate(self.pipelines):
            fc = p.forecast().select(
                *keys, F.col(base.in_col).alias(f"_p{i}")
            )
            joined = fc if joined is None else joined.join(fc, on=keys)
        pred = sum(
            (F.lit(w) * F.col(f"_p{i}") for i, w in enumerate(self.coef_)),
            F.lit(self.intercept_),
        )
        return joined.select(*keys, pred.alias(base.in_col))


class DirectEnsemble:
    def __init__(self, pipelines: Sequence):
        _validate_common(pipelines)
        horizons = [p.horizon for p in pipelines]
        if len(set(horizons)) != len(horizons):
            raise ValueError(
                "All the pipelines should have pairwise different horizons."
            )
        self.pipelines = list(pipelines)
        self.horizon = max(horizons)

    def fit(self, df: DataFrame) -> "DirectEnsemble":
        for p in self.pipelines:
            p.fit(df)
        self._fitted = True
        return self

    def forecast(self) -> DataFrame:
        if not getattr(self, "_fitted", False):
            raise ValueError("DirectEnsemble is not fitted!")
        base = self.pipelines[0]
        keys = [*base.series_cols, base.ts_col]
        union = None
        for p in self.pipelines:
            fc = p.forecast().select(
                *keys,
                F.col(base.in_col).alias("_v"),
                F.lit(p.horizon).alias("_h"),
            )
            union = fc if union is None else union.unionByName(fc)
        # step s gets the pipeline with the smallest horizon covering it —
        # each pipeline emits only its own horizon's steps, so per (series,
        # ts) the covering pipeline with the minimum horizon wins
        return union.groupBy(*keys).agg(
            F.min_by("_v", "_h").alias(base.in_col)
        )
