"""Deterministic synthetic token tables (FIXTURES.md F1–F6).

Everything is generated *inside* Spark from ``spark.range`` — column
expressions only, no driver-side loops, no Python UDFs — so the same
generator scales from 1k unit-test rows to the bench corpus. Determinism
comes from hashing the row id (``xxhash64``), never from ``rand()`` (whose
output depends on partitioning).

F2's seeded corruptions are keyed to ``id % 1000`` in disjoint bands so every
expected violation count is exact a priori (the golden-issue-list contract,
``test-bundle-structural-errors.json`` analog):

  band   rate   defect                          rule family
  0-9    1.0%   tokens → empty array             R1 Required
  10-19  1.0%   n_tok ≠ size(tokens)            CustomExpr invariant
  20-24  0.5%   size(tokens) > max (8192)        R5 ArrayLength
  25-34  1.0%   token value out of vocab         TokenDomain / R3
  35-39  0.5%   doc_id breaks the id grammar     R4 Regex / T8
  40-44  0.5%   doc_id duplicates band-0 row     C3 Unique
  45-49  0.5%   source = 'junk'                  T1 Enum / A1 undeclared
  50-51  0.2%   source = NULL                    R1 on source
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

VOCAB_SIZE = 50257
MAX_N_TOK = 8192
SOURCES = ("web", "books", "code", "wiki")  # skew: 70/15/10/5


def _base(spark: SparkSession, n_rows: int, seed: int,
          partitions: int | None = None) -> DataFrame:
    df = spark.range(0, n_rows, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    h = F.abs(F.xxhash64(F.col("id") + F.lit(seed)))
    h2 = F.abs(F.xxhash64(F.col("id") * F.lit(2654435761) + F.lit(seed + 1)))
    return df.withColumn("_h", h).withColumn("_h2", h2)


def _source_col():
    """Skewed categorical: web 70%, books 15%, code 10%, wiki 5%."""
    r = F.pmod(F.col("_h2"), F.lit(100))
    return (F.when(r < 70, "web").when(r < 85, "books")
             .when(r < 95, "code").otherwise("wiki"))


def _n_tok_col():
    """Log-uniform-ish in [1, 8192]: 2^(0..13) with sub-step jitter."""
    e = F.pmod(F.col("_h"), F.lit(131)).cast("double") / F.lit(10.0)
    n = F.pow(F.lit(2.0), e).cast("int")
    return F.least(F.lit(MAX_N_TOK), F.greatest(F.lit(1), n))


def _tokens_col(n_tok, vocab: int):
    """Deterministic per-element values in [0, vocab)."""
    return F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.pmod(F.xxhash64(F.col("id") * F.lit(1315423911) + i),
                         F.lit(vocab)).cast("int"))


def token_table(spark: SparkSession, n_rows: int = 100_000, seed: int = 42,
                vocab: int = VOCAB_SIZE, partitions: int | None = None,
                with_row_id: bool = False) -> DataFrame:
    """F1: clean token table (doc_id, tokens, n_tok, source)."""
    df = _base(spark, n_rows, seed, partitions)
    cols = [
        F.format_string("doc-%08d", F.col("id")).alias("doc_id"),
        _tokens_col(_n_tok_col(), vocab).alias("tokens"),
        _n_tok_col().alias("n_tok"),
        _source_col().alias("source"),
    ]
    if with_row_id:
        cols.append(F.col("id").alias("_row_id"))
    return df.select(*cols)


def dirty_token_table(spark: SparkSession, n_rows: int = 100_000,
                      seed: int = 42, vocab: int = VOCAB_SIZE,
                      partitions: int | None = None) -> DataFrame:
    """F2: F1 with exact seeded corruptions (see module docstring)."""
    clean = token_table(spark, n_rows, seed, vocab, partitions,
                        with_row_id=True)
    m = F.pmod(F.col("_row_id"), F.lit(1000))

    tokens = (F.when(m.between(0, 9), F.array().cast("array<int>"))
               .when(m.between(20, 24),
                     F.sequence(F.lit(0), F.lit(MAX_N_TOK + 7)).cast("array<int>"))
               .when(m.between(25, 34),
                     F.concat(F.array(F.lit(vocab + 999)),
                              F.slice(F.col("tokens"), 2,
                                      F.greatest(F.size("tokens") - 1, F.lit(0)))))
               .otherwise(F.col("tokens")))
    n_tok = (F.when(m.between(0, 9), F.lit(0))
              .when(m.between(10, 19), F.col("n_tok") + 1)
              .when(m.between(20, 24), F.lit(MAX_N_TOK + 8))
              .otherwise(F.col("n_tok")))
    doc_id = (F.when(m.between(35, 39), F.concat(F.col("doc_id"), F.lit("!")))
               .when(m.between(40, 44),
                     F.format_string("doc-%08d",
                                     F.col("_row_id") - m))
               .otherwise(F.col("doc_id")))
    source = (F.when(m.between(45, 49), F.lit("junk"))
               .when(m.between(50, 51), F.lit(None).cast("string"))
               .otherwise(F.col("source")))
    return clean.select(doc_id.alias("doc_id"), tokens.alias("tokens"),
                        n_tok.alias("n_tok"), source.alias("source"),
                        F.col("_row_id"))


def sources_dim(spark: SparkSession) -> DataFrame:
    """F3: the closed-world source dimension (J1/J2 + A1 requirements)."""
    rows = [("web", "corpus", 1, None), ("books", "corpus", 1, None),
            ("code", "corpus", 1, None), ("wiki", "corpus", 1, None)]
    return local_frame(
        spark, rows,
        "source string, expected_type string, min_docs int, max_docs int")


def vocab_dim(spark: SparkSession, vocab: int = VOCAB_SIZE) -> DataFrame:
    """F4: token vocabulary dimension (CodeSet analog)."""
    return (spark.range(vocab)
            .select(F.col("id").cast("int").alias("token_id"),
                    F.when(F.col("id") < 256, "byte")
                     .when(F.col("id") < 32000, "common")
                     .otherwise("rare").alias("band")))


def token_frequency_baseline(clean_df: DataFrame, column: str = "tokens",
                             group_col: str = "source") -> DataFrame:
    """F6b: persisted token-frequency baseline for the drift rule's
    ``tokenFrequency`` mode — per-(source, token-id) counts, computed by
    the same core the drift current side uses."""
    from ..stats import grouped_token_counts
    return (grouped_token_counts(clean_df, column, group_col=group_col)
            .select(F.col("group").alias("source"),
                    F.lit(column).alias("column_name"),
                    F.col("bucket").cast("int").alias("bucket"),
                    F.col("cnt").alias("count")))


def stats_baseline(clean_df: DataFrame, column: str = "n_tok",
                   bucket_width: float = 64,
                   group_col: str = "source") -> DataFrame:
    """F6: persisted baseline histogram for the drift rule (C5) —
    per-(source, bucket) counts from a clean generation."""
    return (clean_df.where(F.col(column).isNotNull())
            .groupBy(F.col(group_col).alias("source"),
                     F.floor(F.col(column) / bucket_width).cast("int")
                      .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("count"))
            .withColumn("column_name", F.lit(column))
            .select("source", "column_name", "bucket", "count"))
