"""Table catalog over the parquet test data.

The reference's data model is Kafka JSON streams landing in PostgreSQL
tables (SURVEY.md §1.1). Our engine's canonical storage is columnar
parquet — scans get predicate pushdown, column pruning, and partition
pruning from Catalyst for free, which is the 100 TB-scale answer to the
reference's row-oriented JSON/Postgres edges.

Tables (TESTDATA.md / FIXTURES.md §B): TPC-H-ish star schema plus an
``events`` stream stand-in, ``documents`` (text corpus) and
``embeddings`` (array<float> vectors).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
# At 100 TB, fact tables (lineitem/orders/events/documents/embeddings)
# grow; these stay tiny (region=5, nation=25) or small enough
# (supplier/part/customer at single-digit GB) for broadcast at the
# default 32 MB threshold unless SF is extreme — joins.py makes the
# broadcast explicit only for the provably tiny ones.
TINY_DIMS = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_table(name: str, df: DataFrame) -> DataFrame:
    """Post-read normalization. Two generator-era variants exist:

    * events.ts as INT64 nanoseconds (read via
      spark.sql.legacy.parquet.nanosAsLong) → proper timestamp with
      integer ns→µs division — exactly DuckDB's truncation, so the
      oracle sees identical instants. Integer ``div`` (not ``/``)
      because 1.7e18 ns exceeds double's 2^53 exact range.
    * plain parquet TIMESTAMP with isAdjustedToUTC=false, which Spark 4
      infers as TIMESTAMP_NTZ → cast to TIMESTAMP. The session timezone
      is pinned to UTC (session.py), so the cast reinterprets the same
      wall-clock instant and matches DuckDB's naive timestamps, while
      restoring the type every instant function (unix_millis, window,
      watermark) requires.
    """
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """On-disk schema (pre-normalization) — what a readStream.schema()
    declaration must use."""
    return spark.read.parquet(table_path(sf_dir, name)).schema


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition UP to the cluster's parallelism — never
    down. Byte-based input splitting under-partitions CPU-heavy work
    (tokenization, per-pair verification) when files are small: a
    650 KB parquet is 1 split no matter how expensive the downstream
    expressions are. On a real cluster a 100 TB table already has more
    splits than cores and this is a no-op."""
    want = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    have = df.rdd.getNumPartitions()
    return df.repartition(want) if have < want else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "documents":
        # Giant-row corpora: bound the vectorized reader's batch rows
        # from the footer's n_chars stats so reader allocations can't
        # outrun the heap before operators get a chance to spill
        # (no-op on normal corpora — see session.bound_reader_batch).
        from big_data_exercise_spark.session import bound_reader_batch

        bound_reader_batch(spark, sf_dir)
    return normalize_table(name, spark.read.parquet(table_path(sf_dir, name)))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
