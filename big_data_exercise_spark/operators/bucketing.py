"""Bucketed-table layout: shuffle-free co-located joins and
bucket-pruned point lookups.

The reference keeps orders/detections in PostgreSQL and relies on
B-tree indexes to make its dashboard's repeated key joins and
point lookups cheap (SURVEY.md §3.3; reference
``projects/absa_streaming``'s Postgres sink tables). The 100 TB
columnar answer is *bucketing*: hash-partition the table into a fixed
number of buckets on the join/lookup key AT WRITE TIME
(``bucketBy(n, key).sortBy(key).saveAsTable``), so that

* a join between two tables bucketed on the same key with the same
  bucket count needs NO Exchange at all — each task zips bucket i of
  both sides (Spark's bucketed sort-merge join); the big fact⋈fact
  shuffle, the single most expensive stage of the unbucketed plan,
  disappears from every downstream query that joins on the key;
* an equality predicate on the bucket key prunes the scan to ONE
  bucket (``SelectedBucketsCount: 1 out of n`` in the scan node) —
  the columnar analog of the reference's index point lookup.

Both properties are pinned by tests/test_plan_properties.py, not just
claimed. Bucket count is a layout-time constant: at 100 TB you pick
it once per table (≈ table_size / target_task_input, a few thousand)
and every writer appends with the same modulus; locally we keep it
small so sf0.001 fixtures still produce multi-row buckets.

The queries are deterministic (bucketing changes layout, never
results), so the DuckDB oracles run the same join/lookup on the raw
parquet — a layout rewrite that changed ANY value would hash-fail.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from big_data_exercise_spark.functions.numeric import exact_sum
from big_data_exercise_spark.session import scratch_dir

BUCKETS = 8


# Memo entries carry the owning SparkContext's applicationId: a table
# written under an earlier, stopped session lives in THAT session's
# derby metastore/warehouse — short-circuiting on the bare table name
# would return a name the new catalog can't resolve (round-6 review
# finding).
_WRITTEN: set[tuple[str, str, str, int]] = set()


def _db_for(spark: SparkSession, sf_dir: str) -> str:
    """One metastore database per (process, sf_dir): the sf token keeps
    sf0.001 tests and sf0.01 driver runs sharing a session from reading
    each other's buckets; the pid token keeps two processes sharing one
    metastore apart. The database's LOCATION is run scratch, not the
    warehouse, so its tables are removed with the run even when several
    processes share a warehouse dir."""
    slug = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.normpath(sf_dir)).strip("_").lower()
    db = f"bdes_buckets_p{os.getpid()}_{slug}"
    if not spark.catalog.databaseExists(db):
        loc = scratch_dir("bdes_buckets_")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    return db


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    table: str,
    key: str,
    buckets: int = BUCKETS,
) -> str:
    """Materialize ``df`` as a parquet table hash-bucketed AND
    bucket-sorted on ``key``. Returns the fully qualified table name.

    ``sortBy(key)`` makes each bucket file key-sorted, so the bucketed
    sort-merge join can skip its Sort too when Spark trusts the file
    ordering, and point lookups binary-search parquet pages via
    min/max. Overwrite keeps the entry re-runnable.
    """
    db = _db_for(spark, sf_dir)
    fq = f"{db}.{table}"
    # "One-time layout write", made literal: within a process the
    # source parquet under sf_dir is immutable, so a table already
    # written this process is reused as-is — repeated bucketed queries
    # pay the layout cost once, like a real lakehouse table.
    app_id = spark.sparkContext.applicationId
    if (app_id, fq, key, buckets) in _WRITTEN:
        return fq
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(fq)
    )
    # overwrite replaced the physical layout — any memo entry for the
    # same table under a DIFFERENT key/bucket-count is now stale and
    # must not short-circuit a future re-write back to that spec
    _WRITTEN.difference_update({e for e in _WRITTEN if e[1] == fq})
    _WRITTEN.add((app_id, fq, key, buckets))
    return fq


def _bucketed_pair(spark: SparkSession, sf_dir: str, orders: DataFrame,
                   lineitem: DataFrame) -> tuple[str, str]:
    o = write_bucketed(
        spark,
        orders.select("o_orderkey", "o_orderpriority"),
        sf_dir, "orders_by_key", "o_orderkey",
    )
    l = write_bucketed(
        spark,
        lineitem.select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        ),
        sf_dir, "lineitem_by_key", "l_orderkey",
    )
    return o, l


def bucketed_join(df_left: DataFrame, df_right: DataFrame) -> DataFrame:
    """Sort-merge join of two same-bucketed tables. The ``merge`` hint
    pins the SMJ strategy so AQE's broadcast conversion can't hide the
    layout property we're demonstrating (at 100 TB neither side is
    broadcastable anyway); with matching bucket specs Catalyst plans
    it with ZERO Exchange nodes."""
    return df_left.hint("merge").join(
        df_right, df_left["o_orderkey"] == df_right["l_orderkey"]
    )


def bucketed_order_revenue(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Revenue by order priority via the co-located bucketed join.

    Unbucketed, this is TWO full shuffles (one per side) before the
    join; bucketed, the only Exchange in the whole query is the final
    5-row priority rollup. At 100 TB that is the difference between
    re-shuffling the lineitem table per query and never shuffling it
    again after the one-time layout write.
    """
    o_fq, l_fq = _bucketed_pair(spark, sf_dir, orders, lineitem)
    joined = bucketed_join(spark.table(o_fq), spark.table(l_fq))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum(F.col("rev")).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def bucketed_point_lookup(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Index-style point lookup on the bucketed lineitem table: the
    equality predicate on the bucket key prunes the scan to a single
    bucket (``SelectedBucketsCount: 1 out of 8``) and the in-bucket
    sort makes parquet row-group min/max pruning surgical — I/O is
    ~1/buckets of the table instead of a full scan, independent of
    cluster size. Key chosen as the table's max order key so every SF
    has a non-empty answer. Only the lineitem table is written: the
    old `_bucketed_pair` call also bucketed the orders projection this
    query never reads (round-6 review finding)."""
    l_fq = write_bucketed(
        spark,
        lineitem.select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        ),
        sf_dir, "lineitem_by_key", "l_orderkey",
    )
    lkey = lineitem.agg(F.max("l_orderkey")).collect()[0][0]
    hit = spark.table(l_fq).filter(F.col("l_orderkey") == F.lit(lkey))
    return (
        hit.groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"), exact_sum(F.col("rev")).alias("revenue"))
    )
