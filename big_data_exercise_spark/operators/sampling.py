"""Splits & probes (SURVEY.md §2.6 O4, §2.3 A8).

* O4 — the reference's 80/20 train/val split is a positional slice
  (train_absa_model.py:145-152); the engine uses ``randomSplit`` —
  row-level Bernoulli assignment, distributed, no global order
  dependency. Verified through the partition-and-reunion invariant:
  the union of the splits must aggregate exactly like the source.
* A8 — emptiness probes: the reference checks ``limit(1).take(1)``
  to avoid a full count (consumer_postgres_streaming.py:406-409);
  Spark ≥3.3 has ``df.isEmpty()`` which does exactly that probe.
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from big_data_exercise_spark.functions.numeric import exact_sum


def random_split_union(
    events: DataFrame, weights: tuple[float, ...] = (0.8, 0.2), seed: int = 42
) -> DataFrame:
    """randomSplit + unionByName + aggregate: the split is real (each
    row lands in exactly one tagged split), and the aggregate over the
    reunion must equal the aggregate over the source — the invariant
    an engine-independent oracle can check (split membership itself is
    seed- and partitioning-dependent, so no oracle can predict it)."""
    splits = events.randomSplit(list(weights), seed=seed)
    tagged = [
        s.withColumn("split_id", F.lit(i)) for i, s in enumerate(splits)
    ]
    reunion = reduce(lambda a, b: a.unionByName(b), tagged)
    return reunion.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value")).alias("total_value"),
    )


def emptiness_probes(events: DataFrame) -> DataFrame:
    """isEmpty probes (A8) as a one-row relation: cheap existence
    checks that scan at most one row per probe (limit-1 under the
    hood), never a full count."""
    spark = events.sparkSession
    no_huge = events.filter(F.col("value") > 1_000_000.0).isEmpty()
    has_clicks = not events.filter(F.col("event_type") == "click").isEmpty()
    limit0_empty = events.limit(0).isEmpty()
    return spark.createDataFrame(
        pa.table({
            "no_huge": [no_huge],
            "has_clicks": [has_clicks],
            "limit0_empty": [limit0_empty],
        })
    )


# Knuth-style LCG constants: cheap, engine-portable integer hash for
# reproducible per-row uniforms. doc_id is reduced mod 2^31 BEFORE
# the multiply: int64max / A is only ~8.4e9, well inside the id range
# of a 100 TB corpus, and past it Spark (ANSI off) silently wraps
# while the DuckDB oracle raises on BIGINT overflow — the reduction
# keeps the product <= (2^31-1)*A ~ 2.4e18 so both engines compute
# the identical value at ANY id (round-6 review finding; same
# discipline as the minhash tok_id mod-P reduction). A corpus with
# opaque string ids would use xxhash64(id) & mask instead.
_MIX_A = 1103515245
_MIX_C = 12345
_MIX_MOD = 10_000
_MIX_ID_MOD = 2_147_483_648  # 2^31


def source_mixture_sample(
    documents: DataFrame,
    hot_fraction: float = 0.9,
    cold_fraction: float = 0.25,
    hot_sources: tuple[str, ...] = ("src0", "src1", "src2", "src3", "src4"),
) -> DataFrame:
    """Source-mixture (domain-weight) sampling — the step that turns
    a raw crawl into a training mixture: each source keeps a target
    fraction of its documents (up-weight curated sources, down-weight
    noisy ones; cf. the published Pile/PaLM/LLaMA mixture tables).

    Membership is DETERMINISTIC — an LCG hash of doc_id mapped to a
    uniform in [0,1) and compared to the source's weight — so the
    sample is reproducible across engines, runs, and repartitioning
    (``sample()``'s Bernoulli draw is partitioning-dependent; this is
    not). The filter is pure integer codegen pushed to the scan: no
    shuffle, no UDF. The report aggregates kept/total per source so
    the achieved mixture is the visible result.
    """
    u = (
        F.pmod(
            (F.col("doc_id") % _MIX_ID_MOD) * _MIX_A + _MIX_C,
            F.lit(_MIX_MOD),
        )
        / F.lit(float(_MIX_MOD))
    )
    weight = (
        F.when(F.col("source").isin(*hot_sources), F.lit(hot_fraction))
        .otherwise(F.lit(cold_fraction))
    )
    return (
        documents.select(
            "source",
            weight.alias("target_frac"),
            (u < weight).cast("long").alias("kept"),
            F.col("n_chars"),
        )
        .groupBy("source", "target_frac")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.when(F.col("kept") == 1, F.col("n_chars"))
                  .otherwise(F.lit(0))).alias("kept_chars"),
        )
    )
