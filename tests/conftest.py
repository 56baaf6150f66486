"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the driver's pre-registered views, and an exact comparator
mirroring the driver's row-count + schema + order-insensitive value check."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etna_spark.session import get_spark
from etna_spark.sources.testdata import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(
        "etna-spark-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/etna_spark_wh"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def compare_to_oracle(spark_df, ddb_con, sql: str, float_tol: float = 0.0):
    """Driver-equivalent comparison: same row count, same column names,
    order-insensitive value equality (columns sorted by name)."""
    left = spark_df.toPandas()
    right = ddb_con.sql(sql).df()
    assert sorted(left.columns) == sorted(right.columns), (
        f"column mismatch: {sorted(left.columns)} vs {sorted(right.columns)}"
    )
    cols = sorted(left.columns)
    left = left[cols]
    right = right[cols]
    assert len(left) == len(right), f"row count {len(left)} vs {len(right)}"
    left = left.sort_values(cols, kind="mergesort").reset_index(drop=True)
    right = right.sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        lv, rv = left[c], right[c]
        # a driver value-hash stringifies per-dtype: int 16 vs float 16.0
        # differ even when numerically equal — so dtype families must match
        # (DuckDB sum(BIGINT)→HUGEINT→float64 is the classic trap).
        assert pd.api.types.is_integer_dtype(lv) == pd.api.types.is_integer_dtype(rv), (
            f"col {c}: dtype family mismatch {lv.dtype} vs {rv.dtype}"
        )
        if pd.api.types.is_float_dtype(lv) or pd.api.types.is_float_dtype(rv):
            lf = lv.astype(float).to_numpy()
            rf = rv.astype(float).to_numpy()
            both_nan = np.isnan(lf) & np.isnan(rf)
            if float_tol == 0.0:
                # match a stringifying value-hash: -0.0 != 0.0 there
                ok = ((lf == rf) & (np.signbit(lf) == np.signbit(rf))) | both_nan
            else:
                ok = np.isclose(lf, rf, rtol=0, atol=float_tol) | both_nan
            assert ok.all(), (
                f"col {c}: {int((~ok).sum())} mismatches, "
                f"first at {np.argmax(~ok)}: {lf[np.argmax(~ok)]} vs {rf[np.argmax(~ok)]}"
            )
        else:
            lo = lv.astype(object).where(pd.notna(lv), None)
            ro = rv.astype(object).where(pd.notna(rv), None)
            neq = lo.ne(ro) & ~(lo.isna() & ro.isna())
            assert not neq.any(), (
                f"col {c}: {int(neq.sum())} mismatches, first: "
                f"{lo[neq].iloc[0]!r} vs {ro[neq].iloc[0]!r}"
            )
