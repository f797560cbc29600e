"""Streaming pipelines over the events table.

The reference's three pipelines are Kafka → parse → UDF → foreachBatch
JDBC (SURVEY.md §2.1 S1-S7) with NO event-time semantics: no
watermark, fixed processing-time triggers, post-hoc bucketing in
Postgres (fire_detection_app.py:91-102). This module supplies the
idiomatic versions:

* file stream source standing in for Kafka (same micro-batch
  DataFrame semantics; swap ``format("kafka")`` + ``from_json`` for
  production — the parse stage is identical to
  operators.scalars.json_props_stats);
* event-time tumbling / sliding / session windows with watermarks;
* streaming deduplication;
* ``foreachBatch`` append sink to parquet (the JDBC-append analog,
  consumer_postgres_streaming.py:427-440) with checkpointing.

Every pipeline runs with ``availableNow`` + ``processAllAvailable``
for deterministic batch-equivalence testing: stream result ==
batch result on the same input (the DuckDB oracle checks the batch
semantics).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from big_data_exercise_spark.functions.numeric import exact_sum
from big_data_exercise_spark.session import env_int, scratch_dir
from big_data_exercise_spark.tables import normalize_table, raw_schema

# Per-batch trigger walls (ms) of the most recent completed
# run_to_memory stream, data-carrying batches only. The reference's
# headline numbers are LATENCIES (10-15 s vehicle batches, 2-3 s fire
# — VEHICLE_COUNTING_GUIDE.md / fire README); bench.py reads this
# after each stream_* headline query to publish p50/p95 next to the
# throughput numbers.
LAST_BATCH_MS: list[float] = []

# (abs sf_dir, n_files) → materialized feed dir. The split is pure
# function of its inputs, so one copy per (corpus, width) serves every
# stream in the process.
_FEED_CACHE: dict[tuple[str, int], str] = {}


def _multi_file_feed(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Materialize a ts-ordered ``n_files``-way split of the events
    table for multi-micro-batch streaming runs (the latency bench).

    Each part file holds a contiguous, ascending event-time range
    (``repartitionByRange`` on ts + sort within), and the files get
    strictly increasing mtimes so FileStreamSource — which orders
    pending files by modification timestamp — replays them in
    event-time order. That is the arrival order a log-backed source
    (Kafka per-partition) delivers, and the order under which the
    watermarked stream-stream joins provably emit the same final set
    as a single-batch run: a purchase arriving in batch k+1 has
    ts ≥ every batch-k timestamp, so the min-of-sides watermark can
    never evict a click whose join window that purchase could still
    hit (pinned end-to-end by tests/test_streaming_multibatch.py).
    """
    key = (os.path.abspath(sf_dir), n_files)
    if os.path.isdir(_FEED_CACHE.get(key, "")):
        return _FEED_CACHE[key]
    out = scratch_dir("bdes_feed_")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    (
        raw.repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    base = time.time() - 2 * len(parts) - 10
    for i, p in enumerate(parts):
        os.utime(os.path.join(out, p), (base + 2 * i, base + 2 * i))
    _FEED_CACHE[key] = out
    return out


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet — the test
    stand-in for the Kafka source (S1). Schema is declared explicitly
    (the reference's policy: explicit StructType for every stream,
    SURVEY.md §1.2); the ns→µs timestamp normalization is applied on
    the stream exactly as in batch.

    ``SPARK_GRAFT_STREAM_FEED_FILES=N`` (N > 1) swaps the single-file
    source for the ts-ordered N-file feed above — N data-carrying
    micro-batches instead of one, so per-batch latency percentiles are
    order statistics rather than a single sample. Default (unset / 1)
    keeps the original single-file read; the final results are
    identical either way (multi-batch equivalence test)."""
    schema = raw_schema(spark, sf_dir, "events")
    n_feed = env_int("SPARK_GRAFT_STREAM_FEED_FILES", 1)
    if n_feed > 1:
        feed = _multi_file_feed(spark, sf_dir, n_feed)
        _note_source_bytes(feed)  # state-partition autotune hint
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        return normalize_table("events", stream)
    # FileStreamSource requires a *directory*; the test data is a single
    # parquet file inside a read-only dir, so stream the parent directory
    # and glob down to just the events file.
    _note_source_bytes(os.path.join(sf_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # micro-batch rate limiting (S2 analog)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_table("events", stream)


def _with_watermark(events: DataFrame, watermark: str | None) -> DataFrame:
    """Watermark for streaming inputs; ``None`` gives the batch twin of
    the same builder (fold point so stream/batch versions can't drift —
    the DuckDB oracle checks the batch semantics, the streaming run
    must match it)."""
    return events.withWatermark("ts", watermark) if watermark else events


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream over the documents corpus — the ABSA review
    stream stand-in (S1 over text instead of events)."""
    schema = raw_schema(spark, sf_dir, "documents")
    _note_source_bytes(os.path.join(sf_dir, "documents.parquet"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_sentiment_distribution(documents: DataFrame) -> DataFrame:
    """The reference's flagship pipeline shape, whole: text stream →
    Arrow pandas-UDF inference → relational aggregation
    (consumer_postgres_streaming.py:219-401 compressed to its
    essence). The UDF is the deterministic keyword scorer (the
    reference's own fallback model), so the batch oracle replays it.
    """
    from big_data_exercise_spark.functions.sentiment import score_documents

    scored = score_documents(documents)
    return scored.groupBy("label").agg(F.count("*").alias("n_docs"))


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str | None = "10 minutes"
) -> DataFrame:
    """Tumbling event-time window aggregation with watermark — the
    streaming twin of operators.aggregations.time_bucket (A3)."""
    return (
        _with_watermark(events, watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Sliding window counts (each event lands in width/slide windows)."""
    return (
        _with_watermark(events, watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "event_type", "n_events")
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = "10 minutes"
) -> DataFrame:
    """Per-user session windows (gap-based) — new capability, semantics
    defined by us (SURVEY.md §2.10)."""
    return (
        _with_watermark(events, watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), exact_sum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type) — first
    occurrence wins, emitted immediately in append mode."""
    return events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def streaming_dedup_within_watermark(
    events: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """dropDuplicatesWithinWatermark (SURVEY §2.10 stateful ops): like
    streaming dedup, but state for a key is *dropped* once the
    watermark passes it — bounded state at 100 TB, with the documented
    relaxation that duplicates farther apart than the delay can both
    be emitted. Keys projected after dedup so the batch-equivalence
    oracle is a plain DISTINCT."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join (SURVEY §2.4): per micro-batch,
    the stream side joins a static dimension snapshot — the idiomatic
    replacement for the reference's wide-column pivot
    (consumer_postgres_streaming.py:391-393). The static side is a
    broadcast hash join per batch: the stream never shuffles, which is
    the property that makes enrichment viable on an unbounded input.
    """
    lookup = F.broadcast(
        dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return events.join(lookup, "user_id").select(
        "event_id", "user_id", "event_type", "segment"
    )


def click_purchase_attribution(
    clicks_src: DataFrame,
    purchases_src: DataFrame,
    within: str = "1 hour",
    watermark: str | None = None,
    how: str = "inner",
    salts: int = 1,
) -> DataFrame:
    """Stream-stream join: each purchase matched to the same
    user's clicks in the preceding ``within`` interval — the
    attribution query every event pipeline eventually needs, and the
    one streaming surface a stream-static join can't express (both
    sides grow).

    ``how="left_outer"`` emits unmatched clicks with NULL purchase
    columns — but only once the watermark has closed their join
    window. On a finite stream the final emission set is exactly
    characterizable (and the `stream_stream_left_outer` oracle checks
    it): an unmatched click emits iff ``click_ts < W - within`` where
    ``W = min(max click ts, max purchase ts)`` (ms-truncated) minus
    the watermark delay. Two subtleties pinned by that oracle:
    (a) Catalyst pushes the event_type filter BELOW the
    EventTimeWatermark node, so each side's watermark tracks the max
    event time of its *filtered* stream, not the source stream, and
    the global watermark is the min of the two; (b) the no-data
    micro-batch after the last data batch performs the eviction, so
    the rows do flush without requiring new input. Unmatched clicks
    younger than ``W - within`` stay in state forever on a finite
    input. The inner join has no such caveat; batch equivalence is
    exact.

    Spark's state-store mechanics make this scale: each side is
    hash-partitioned on user_id, rows are buffered in per-partition
    state, and the event-time range condition + watermark bound HOW
    LONG a row stays buffered (clicks older than purchase-watermark −
    ``within`` are evicted). Without the time bound the state is
    unbounded — that's the failure mode, not the shuffle. Batch twin:
    pass the same DataFrame twice with ``watermark=None``; the oracle
    checks that semantics.

    ``salts > 1`` is the hot-key mitigation (round-9 skew soak: one
    user owning 30 % of events drove batch p95 1.8 s → 14.8 s — the
    whole hot key lands in ONE state partition, and Structured
    Streaming has no AQE skew split to rescue it). The salted plan
    hash-partitions on (user_id, salt) instead: the high-rate click
    side gets a DETERMINISTIC salt (``event_id % salts`` — replayable
    across micro-batch boundaries and engine restarts, unlike
    ``rand()``), and every purchase row is replicated across all
    ``salts`` values, so a matching pair still meets EXACTLY ONCE (in
    the click's salt partition) and an unmatched click is unmatched
    globally iff unmatched in its one partition — inner and left_outer
    semantics are bit-identical to the unsalted plan (pinned by the
    `stream_stream_*_salted` contract oracles, which are the UNSALTED
    SQL). Costs: purchase-side state grows ``salts``×(bounded, the
    low-rate side by construction) and the watermark trajectory is
    unchanged (replication copies ts values; max event time per side
    is invariant). The hot user's clicks now spread over ``salts``
    state partitions — the per-partition ceiling drops ~``salts``×.

    **Regime boundary (round-10 judge measurement): salt STREAMING
    joins only.** In batch execution AQE's skew-join split already
    absorbs the hot key (skewed sf1 twin: unsalted 87 s) and the
    k-fold purchase replication multiplies probe volume for no benefit
    (salted k=8: 254 s — a 2.9× pessimization). Structured Streaming
    has no AQE skew split, which is where salting pays (same corpus,
    stateful regime: 304 s → 111 s). Batch callers should keep the
    default ``salts=1`` and rely on AQE.
    """
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")
    if salts > 1 and how not in ("inner", "left_outer"):
        # The k-fold purchase replication is semantics-preserving only
        # when unmatched PURCHASE rows are never emitted: under
        # right/full outer joins each of the k replicas of an unmatched
        # purchase would emit its own null-extended row (round-10
        # advice).
        raise ValueError(
            f"salts > 1 preserves semantics only for inner/left_outer "
            f"joins, got how={how!r}"
        )
    c = (
        _with_watermark(clicks_src, watermark)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        _with_watermark(purchases_src, watermark)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    if salts > 1:
        c = c.withColumn(
            "c_salt", F.pmod(F.col("click_id"), F.lit(salts)).cast("int")
        )
        p = p.withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(salts)]).cast("array<int>")),
        )
        cond = cond & (F.col("c_salt") == F.col("salt"))
    return c.join(p, cond, how).select(
        "click_id",
        "purchase_id",
        F.coalesce("user_id", "c_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY
    §2.10 gap — the reference has no stateful ops at all): per-user
    running (count, max) maintained in explicit group state across
    micro-batches, emitted in update mode. The state is two scalars
    per user — bounded, mergeable, exactly the shape that scales to
    10⁹ keys with RocksDB state store. On a finite input the final
    emission per key equals the batch aggregate, which is what the
    oracle checks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, max_value double"
    state_schema = "n long, mx double"

    def update_stats(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_stats,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


class _sized_state_store:
    """Right-size streaming STATE partitioning for the duration of one
    query start. The number of state-store instances equals the
    shuffle-partition count at query start — and each instance pays
    per-micro-batch open/commit/snapshot overhead regardless of how
    many keys it holds. Inheriting the batch shuffle width (sized for
    scan/join throughput) makes tiny-keyspace test streams pay 32
    state stores' fixed costs for a few thousand keys (measured 6.8 s
    → 1.3 s at sf0.1 tumbling counts with 8 instead of 32). On a real
    cluster the operator keyspace, not the batch width, should size
    this; a restarted query keeps the count baked into its checkpoint.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(_state_store_instances(self.spark))
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)


# Source-volume hint for the state-store autotune: the file-based
# stream builders record their source's total bytes here at plan-build
# time (a driver-side os.stat sum — no Spark job), and the next query
# start derives its state-store instance count from it. It is one
# process-wide slot that every builder call overwrites, so it can be
# stale: a plan built from two file sources is sized by whichever was
# built last, a plan built before another query's sources reads that
# query's bytes, and a plan on a custom source reads the last file
# source built in the process. Perf-only — state partitioning never
# changes results. None (nothing recorded, or a failed stat) falls back
# to the fixed default.
_LAST_SOURCE_BYTES: dict = {"bytes": None}

# ~bytes of source input per state-store instance. Round-12 interleaved
# measurement at sf0.1 (24-file feed, best-of-3 + per-rep p50s,
# /tmp/state_exp2 in OPTIMIZATION_r12.md): 2 instances beat 8 on every
# rep — stream_tumbling_counts wall 14.0 → 7.8 s, stream_stream_join
# batch p50 1109 → 671 ms — because per-batch store open/commit
# dominates tiny keyspaces. The divisor makes the count grow with the
# corpus (sf0.1 events = 2 MB → 2 instances; ~200 MB → 7; at 100 TB
# the clamp to the batch shuffle width takes over), so the setting is
# scale-adaptive rather than tuned to either local mode or the bench.
_STATE_BYTES_PER_INSTANCE = 32 << 20


def _note_source_bytes(path: str) -> None:
    try:
        if os.path.isdir(path):
            total = sum(
                os.path.getsize(os.path.join(path, p))
                for p in os.listdir(path)
                if not p.startswith((".", "_"))
            )
        else:
            total = os.path.getsize(path)
        _LAST_SOURCE_BYTES["bytes"] = total
    except OSError:
        _LAST_SOURCE_BYTES["bytes"] = None


def _state_store_instances(spark: SparkSession) -> int:
    """State-store instance count for one streaming query start: the
    source-volume derivation (min 2, max the batch shuffle width), or
    the historical fixed 8 when no source bytes are recorded."""
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf may be 'auto' on some builds
        width = 8
    nbytes = _LAST_SOURCE_BYTES["bytes"]
    if nbytes is None:
        return min(8, max(1, width))
    return max(2, min(width, -(-nbytes // _STATE_BYTES_PER_INSTANCE)))


@contextmanager
def _started(result: DataFrame, writer):
    """Start ``writer`` (a configured ``result.writeStream``) under a
    fresh scratch checkpoint with right-sized state partitioning; yield
    the running query, then stop it and remove the checkpoint. The
    checkpoint lives only for this one run: no runner returns it, so
    nothing could restart from it."""
    ckpt = scratch_dir("bdes_ckpt_")
    try:
        with _sized_state_store(result.sparkSession):
            q = writer.option("checkpointLocation", ckpt).start()
        try:
            yield q
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming plan to completion (availableNow semantics
    via processAllAvailable) into a memory sink; return the final
    table as a batch DataFrame.

    ``complete`` mode for windowed aggregations so trailing windows
    (which the watermark never closes on a finite input) are included
    — this is what makes stream results comparable to the batch
    oracle. Append-safe plans (dedup, projections) pass
    ``output_mode="append"``.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    # recentProgress keeps only the LAST numRecentProgressUpdates
    # entries (default 100): a >100-batch run would otherwise publish
    # latency percentiles biased toward the late, warmed-up batches
    # (round-6 review finding). Raise it for the duration of the run.
    prog_key = "spark.sql.streaming.numRecentProgressUpdates"
    saved_prog = spark.conf.get(prog_key, None)
    spark.conf.set(prog_key, "100000")
    writer = result.writeStream.format("memory").queryName(name).outputMode(output_mode)
    try:
        with _started(result, writer) as q:
            q.processAllAvailable()
            LAST_BATCH_MS[:] = [
                float(p.batchDuration)
                for p in (q.recentProgress or [])
                if p.numInputRows > 0
            ]
    finally:
        if saved_prog is None:
            spark.conf.unset(prog_key)
        else:
            spark.conf.set(prog_key, saved_prog)
    # Materialize: the memory table dies with the query registry churn.
    return spark.table(name).localCheckpoint(eager=True)


def run_foreach_batch_to_jdbc(
    result: DataFrame, url: str, table: str, driver: str | None = None
) -> None:
    """foreachBatch → JDBC append: exactly the reference's sink
    (consumer_postgres_streaming.py:403-450 — each micro-batch appended
    to a Postgres table). Tested against embedded Derby; in production
    only the url/driver change. Delivery within a call is
    at-least-once. The checkpoint lives only for the call and is
    removed when it ends, so a second call re-reads the whole source —
    as the reference does after its Airflow cycle wipes its
    checkpoints."""
    from big_data_exercise_spark.sources import jdbcio

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # A8 probe, not a count (cheap on big batches)
            return
        jdbcio.write_jdbc(
            batch_df, url, table, driver=driver or jdbcio.DERBY_DRIVER
        )

    writer = (
        result.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    with _started(result, writer) as q:
        q.awaitTermination()


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema,
    max_offsets_per_trigger: int = 1000,
) -> DataFrame:
    """Production Kafka source (S1/S2): subscribe → CAST value to
    string → from_json with the explicit schema → flatten. This is the
    reference's exact consume shape (consumer_postgres_streaming.py:
    219-229 + vehicle_consumer.py:38-60); untestable in this container
    (no broker, no kafka connector jar) but the plan construction is
    the complete production path — swap stream_events() for this in
    any pipeline above."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )
    return (
        raw.selectExpr("CAST(value AS STRING) AS value")
        .select(F.from_json("value", schema).alias("m"))
        .select("m.*")
    )


def kafka_sink(result: DataFrame, bootstrap_servers: str, topic: str, *cols: str):
    """Production Kafka sink (S4): to_json(struct(*)) value payload —
    the producer.py:40 serializer as a streaming writer. Returns the
    started query; its checkpoint is run scratch, removed at exit."""
    payload = result.select(
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value")
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", scratch_dir("bdes_ckpt_"))
        .start()
    )


def idempotent_batch_writer(out_dir: str):
    """foreachBatch writer with replay-safe semantics: each micro-batch
    lands in its own ``_batch_id=N`` partition via dynamic partition
    overwrite, so a batch re-executed after a mid-write failure
    REPLACES its partition instead of appending duplicates. This
    upgrades the at-least-once append sink (the reference's semantics)
    to effectively-once without a transactional store."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return write_batch


def run_foreach_batch_to_parquet(
    result: DataFrame, out_dir: str | None = None
) -> str:
    """foreachBatch append sink (S5/S6 analog): each micro-batch is
    appended to a parquet table — the JDBC-append pattern of the
    reference (consumer_postgres_streaming.py:427-440). Delivery within
    a call is at-least-once. The checkpoint lives only for the call and
    is removed when it ends, as the reference's Airflow cycle wipes its
    checkpoints (SURVEY.md §2.10). Returns the output directory."""
    out = out_dir or scratch_dir("bdes_sink_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent-append improvement over the reference: tag rows
        # with the batch id so replays are identifiable/dedupable.
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    writer = (
        result.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    with _started(result, writer) as q:
        q.awaitTermination()
    return out
