"""In-flight observability: ``df.observe`` metrics riding the query.

A 100 TB pipeline needs row counts, null rates, and value totals for
every ingest batch — but a separate ``count()``/profiling query is a
SECOND full scan. ``Dataset.observe`` attaches accumulator-backed
aggregates to the existing plan: the metrics are collected DURING the
one pass the query already makes, cost ≈ a per-row accumulator add,
and arrive via ``pyspark.sql.Observation`` (batch) or the streaming
progress events (reference analog: the consumers print per-batch
counts by re-counting the micro-batch —
`consumer_postgres_streaming.py` logs sizes before the JDBC write;
observe() gets the same numbers for free).

The observed metrics never change the result — the registry query's
oracle hash proves exactly that — while the property test pins the
metric values against independently computed ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from big_data_exercise_spark.functions.numeric import exact_sum


def _counted_checkpoint(df: DataFrame, *extra: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` and the metrics observed in
    the checkpoint's own job: ``n`` (the row count) plus each ``extra``
    aggregate under its alias (an empty frame, even one with no
    partitions, reads ``n`` = 0). This is how a size gate reads its
    size: a separate ``count()`` is one or two more jobs over blocks
    the checkpoint just wrote. The checkpoint must be eager — on a lazy
    one no job has run when the Observation is read, and it reads 0."""
    obs = Observation()
    cp = df.observe(obs, F.count(F.lit(1)).alias("n"), *extra).localCheckpoint()
    return cp, obs.get


def observed_rollup(events: DataFrame, observation: Observation | None = None):
    """Event-type rollup with ingest metrics observed on the scan:
    total rows, rows with NULL value, and the exact value total —
    the data-quality triple — measured in the SAME pass that feeds
    the aggregation."""
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        exact_sum(F.col("value")).alias("value_total"),
    ]
    src = events.select("event_type", "value")
    observed = (
        src.observe(observation, *metrics)
        if observation is not None
        else src.observe("ingest_metrics", *metrics)
    )
    return observed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value")).alias("total_value"),
    )
