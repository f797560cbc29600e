"""Exact deduplication: fingerprint hash → groupBy.

The dedup key is ``functions.text.fingerprint`` (md5 of
whitespace-normalized lowercased text), so byte-identical and
whitespace-variant duplicates collapse together. At 100 TB this is a
single shuffle on a 32-byte key with map-side combine — the cheapest
possible dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from big_data_exercise_spark.functions.numeric import round_det
from big_data_exercise_spark.functions.text import fingerprint


def with_fingerprint(documents: DataFrame) -> DataFrame:
    return documents.withColumn("fp", fingerprint(F.col("text")))


def dedup_exact(documents: DataFrame) -> DataFrame:
    """One representative (min doc_id) per distinct fingerprint."""
    return (
        with_fingerprint(documents)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "fp", "n_copies")
    )


def dedup_stats_by_lang(documents: DataFrame) -> DataFrame:
    """Per-language doc count vs distinct-fingerprint count — the
    dedup-rate dashboard aggregate."""
    return (
        with_fingerprint(documents)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .withColumn("dup_rate", round_det(1 - F.col("n_unique") / F.col("n_docs"), 4))
    )
