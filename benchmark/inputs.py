"""Seeded input generators for the benchmark workloads.

The benchmark's own copy of the FIXTURES.md section A recipe (token rows)
and of the section B6 corpora (text and embeddings). Every value is a pure
JVM hash expression of the row id and the workload seed, so the same seed
gives the same rows at any partitioning, and the engine only ever receives
the generated tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

T0_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z, the FIXTURES.md T0
DAY_S = 86_400
N_SOURCES = 64  # zipf-skewed token sources
PARTITIONS = 4  # partitions of every generated table
N_WORDS = 40  # words per corpus document
VOCAB = 50_000  # corpus vocabulary size
DIM = 32  # embedding dimension
DUP_MOD = 10  # every DUP_MOD-th document / vector is a planted near-dup


def _h(seed: int, *cols) -> Column:
    """xxhash64 of the given columns plus the seed as an extra hash term."""
    return F.xxhash64(*cols, F.lit(seed))


def token_rows(
    spark: SparkSession,
    seed: int,
    n_rows: int,
    n_days: int,
    late_pct: int = 0,
) -> DataFrame:
    """Token rows ``(doc_id, n_tok, source, event_ts, batch)``.

    - ``source`` is zipf-skewed: ``src_k`` takes about ``2^-(k+1)`` of rows.
    - ``n_tok = 16 + h(doc_id, 1) mod 497``.
    - Row ``i`` falls on day ``i mod n_days`` at a hash-chosen second of it.
    - ``batch`` is the day whose append carries the row. A hash-chosen
      ``late_pct`` percent of each day's rows are held back to the next
      day's append (late arrivals).

    The token arrays are not generated: the tier engine only reads
    ``n_tok``, and parquet column pruning would skip them anyway.
    """
    rng = spark.range(0, n_rows, numPartitions=PARTITIONS)
    doc = F.format_string("doc_%012d", F.col("id"))
    df = rng.select(F.col("id"), doc.alias("doc_id"))
    h01 = F.pmod(_h(seed, "doc_id"), F.lit(1_000_000)) / 1_000_000.0
    src_idx = F.least(F.floor(-F.log2(1.0 - h01)).cast("int"), F.lit(N_SOURCES - 1))
    day = F.pmod(F.col("id"), F.lit(n_days))
    sec = day * DAY_S + F.pmod(_h(seed, "doc_id", F.lit(3)), F.lit(DAY_S))
    late = F.pmod(_h(seed, "doc_id", F.lit(5)), F.lit(100)) < late_pct
    return df.select(
        "doc_id",
        (16 + F.pmod(_h(seed, "doc_id", F.lit(1)), F.lit(497))).cast("int").alias("n_tok"),
        F.format_string("src_%d", src_idx).alias("source"),
        F.timestamp_seconds(F.lit(T0_EPOCH) + sec).alias("event_ts"),
        (day + F.when(late, 1).otherwise(0)).cast("int").alias("batch"),
    )


def corpus(spark: SparkSession, seed: int, n_docs: int) -> DataFrame:
    """``(doc_id, text)``: every ``DUP_MOD``-th document copies its
    predecessor with one word substituted (a planted near-dup population)."""
    rng = spark.range(0, n_docs, numPartitions=PARTITIONS)
    is_dup = F.pmod(F.col("id"), F.lit(DUP_MOD)) == DUP_MOD - 1
    base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    df = rng.select(F.col("id").alias("doc_id"), is_dup.alias("_d"), base.alias("_b"))

    def word(c: Column, j) -> Column:
        return F.concat(F.lit("w"), F.pmod(_h(seed, c, j), F.lit(VOCAB)))

    words = F.transform(F.sequence(F.lit(0), F.lit(N_WORDS - 1)),
                        lambda j: word(F.col("_b"), j))
    pos = F.pmod(_h(seed, "doc_id", F.lit(777)), F.lit(N_WORDS))
    perturbed = F.transform(
        words,
        lambda w, j: F.when(F.col("_d") & (j == pos),
                            word(F.col("doc_id"), F.lit(999_999))).otherwise(w),
    )
    return df.select("doc_id", F.array_join(perturbed, " ").alias("text"))


def embeddings(spark: SparkSession, seed: int, n_vecs: int) -> DataFrame:
    """``(vec_id, embedding)``, ``DIM`` components uniform in [-1, 1]; every
    ``DUP_MOD``-th vector is its predecessor plus a perturbation of at most
    1e-3 per component."""
    rng = spark.range(0, n_vecs, numPartitions=PARTITIONS)
    is_dup = F.pmod(F.col("id"), F.lit(DUP_MOD)) == DUP_MOD - 1
    base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    df = rng.select(F.col("id").alias("vec_id"), is_dup.alias("_d"), base.alias("_b"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            (F.pmod(_h(seed, F.col("_b"), j), F.lit(2001)) - 1000) / 1000.0
            + F.when(
                F.col("_d"),
                (F.pmod(_h(seed, F.col("vec_id"), j + 5000), F.lit(21)) - 10) / 10_000.0,
            ).otherwise(F.lit(0.0))
        ),
    )
    return df.select("vec_id", vec.alias("embedding"))
