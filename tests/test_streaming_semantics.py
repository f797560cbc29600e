"""Streaming semantics the single-file oracle queries can't cover:
real multi-micro-batch execution, checkpoint restart (exactly-once
bookkeeping), and the bucketed shuffle-free join layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_exercise_spark.streaming import pipelines as streams
from big_data_exercise_spark.tables import load_table, normalize_table
from tests.conftest import SF_DIR


def _staged_events_dir(spark, tmp_path, n_files=4) -> str:
    """Stage events into n time-ordered parquet files so a
    maxFilesPerTrigger=1 stream executes n real micro-batches with an
    advancing watermark (files listed in name order)."""
    # Stage from the RAW read (ts stays int64 nanos) so the staged
    # files match the stream's declared schema; normalization happens
    # on the stream exactly as in stream_events.
    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    qs = ev.approxQuantile("event_id", [i / n_files for i in range(1, n_files)], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    out = str(tmp_path / "staged")
    for i in range(n_files):
        part = ev.filter(
            (F.col("event_id") > bounds[i]) & (F.col("event_id") <= bounds[i + 1])
        )
        part.coalesce(1).write.parquet(os.path.join(out, f"f{i:02d}"))
    return out


def _stream_staged(spark, staged_dir):
    schema = load_table(spark, SF_DIR, "events").schema
    raw = spark.read.parquet(SF_DIR + "/events.parquet")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )
    del schema
    return normalize_table("events", stream)


def test_multi_batch_stream_matches_batch(spark, tmp_path):
    """4 files → ≥4 micro-batches; tumbling counts over the stream must
    equal the batch aggregation (events are staged in key order, which
    is uncorrelated with event time — so this also exercises watermark
    advancement across batches in complete mode)."""
    staged = _staged_events_dir(spark, tmp_path)
    stream_result = streams.run_to_memory(
        streams.tumbling_counts(_stream_staged(spark, staged)), "complete"
    )
    batch_result = streams.tumbling_counts(
        load_table(spark, SF_DIR, "events"), watermark=None
    )
    a = {tuple(r) for r in stream_result.collect()}
    b = {tuple(r) for r in batch_result.collect()}
    assert a == b


def test_runners_remove_their_checkpoint(spark, tmp_path, monkeypatch):
    """The one-shot runners own their checkpoint for one call only: no
    checkpoint dir they started a query with outlives the call. The
    restart semantics are pinned by the tests below, which keep their
    own checkpoints."""
    from pyspark.sql.streaming import DataStreamWriter

    used = []
    option = DataStreamWriter.option

    def spy(self, key, value):
        if key == "checkpointLocation":
            used.append(value)
        return option(self, key, value)

    monkeypatch.setattr(DataStreamWriter, "option", spy)
    staged = _staged_events_dir(spark, tmp_path, n_files=2)
    rows = _stream_staged(spark, staged).select("event_id", "value")
    n = streams.run_to_memory(rows, "append").count()
    out = streams.run_foreach_batch_to_parquet(rows, str(tmp_path / "sink"))
    assert spark.read.parquet(out).count() == n > 0
    assert len(used) == 2
    assert [p for p in used if os.path.exists(p)] == []


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Re-running an availableNow foreachBatch sink with the SAME
    checkpoint over the SAME input must append nothing: the checkpoint
    records consumed files, so restart-after-success is a no-op (the
    exactly-once bookkeeping the reference forfeited by wiping
    checkpoints each Airflow cycle, SURVEY §2.10)."""
    staged = _staged_events_dir(spark, tmp_path)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            _stream_staged(spark, staged)
            .select("event_id", "user_id", "value")
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # restart with durable checkpoint: nothing new to do
    n2 = spark.read.parquet(out).count()
    assert n1 == load_table(spark, SF_DIR, "events").count()
    assert n2 == n1


def test_crash_restart_recovers_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery (the reference's actual lifecycle —
    its Airflow DAG kills the consumer and restarts it every cycle,
    dags/absa_streaming_lifecycle_dag.py:44-78, except it also wipes
    the checkpoint and re-reads from earliest; keeping the checkpoint
    is what upgrades that to exactly-once). A checkpointed stream is
    CRASHED mid-run — the sink writes a batch's data and then dies
    before the commit is recorded — and restarted from the same
    checkpoint. Spark replays the uncommitted batch; the idempotent
    sink (per-batch-id dynamic partition overwrite) absorbs the
    replay, so the final output holds each input row exactly once.
    This is the crash-consistency half the restart-after-success test
    above doesn't cover."""
    staged = _staged_events_dir(spark, tmp_path)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sink = streams.idempotent_batch_writer(out)
    crashed = {"already": False}

    def crashing_sink(df, batch_id):
        sink(df, batch_id)  # batch data reaches the sink...
        if batch_id == 1 and not crashed["already"]:
            crashed["already"] = True
            # ...then the process dies before the checkpoint commit
            raise RuntimeError("injected crash after writing batch 1")

    def run(writer):
        q = (
            _stream_staged(spark, staged)
            .select("event_id", "user_id", "value")
            .writeStream.foreachBatch(writer)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="injected crash"):
        run(crashing_sink)
    # partial progress is durable: batch 0 (and the crashed batch 1's
    # data) are on disk, later batches are not
    assert spark.read.parquet(out).count() > 0

    run(sink)  # restart from the SAME checkpoint, normal sink

    got = spark.read.parquet(out).select("event_id", "user_id", "value")
    expect = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value"
    )
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_append_mode_emits_exactly_closed_windows(spark, tmp_path):
    """Append-mode watermark contract, observed: the output is the
    full aggregation restricted to CLOSED windows (window end ≤ final
    watermark = max event time − delay); trailing windows are
    withheld. Late rows (a whole hour staged as the SECOND file, far
    behind the watermark) are NOT necessarily dropped — Spark 4
    aggregates a never-seen window and flushes it on eviction; the
    watermark guarantee is one-sided (on-time data is never dropped,
    too-late data MAY be). This test pins the deterministic part and
    documents the best-effort part."""
    raw = spark.read.parquet(SF_DIR + "/events.parquet")
    ev = normalize_table("events", raw)
    min_ts, max_ts = ev.agg(F.min("ts"), F.max("ts")).first()
    cutoff = ev.select(
        (F.date_trunc("hour", F.lit(min_ts)) + F.expr("INTERVAL 1 HOUR")).alias("c")
    ).first().c
    # Stage from the NORMALIZED frame (ts already a timestamp), so the
    # test is independent of which generator era wrote the fixture
    # (int64-ns vs parquet TIMESTAMP); normalize_table on the re-read
    # stream is then a no-op.
    on_time_raw = ev.filter(F.col("ts") >= F.lit(cutoff))
    late_raw = ev.filter(F.col("ts") < F.lit(cutoff))
    assert late_raw.count() > 0 and on_time_raw.count() > 0
    staged = str(tmp_path / "staged")
    on_time_raw.coalesce(1).write.parquet(os.path.join(staged, "f00"))
    late_raw.coalesce(1).write.parquet(os.path.join(staged, "f01"))

    stream = (
        spark.readStream.schema(on_time_raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    result = streams.run_to_memory(
        streams.tumbling_counts(normalize_table("events", stream)), "append"
    )
    got = {tuple(r) for r in result.collect()}

    full_batch = streams.tumbling_counts(ev, watermark=None)
    wm = F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    closed = full_batch.filter(F.col("bucket") + F.expr("INTERVAL 1 HOUR") <= wm)
    trailing = full_batch.filter(F.col("bucket") + F.expr("INTERVAL 1 HOUR") > wm)
    want = {tuple(r) for r in closed.collect()}
    assert got == want
    # the unclosed trailing window(s) exist in batch but not in append output
    assert trailing.count() > 0
    assert all(tuple(r) not in got for r in trailing.collect())


def test_idempotent_batch_writer_replay_safe(spark, tmp_path):
    """Replaying a batch (mid-write failure recovery) must not
    duplicate rows: the batch's partition is overwritten, not
    appended."""
    out = str(tmp_path / "sink")
    writer = streams.idempotent_batch_writer(out)
    df = load_table(spark, SF_DIR, "events").select("event_id", "user_id").limit(100)
    writer(df, 7)
    n1 = spark.read.parquet(out).count()
    writer(df, 7)  # replay of the same batch id
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == 100
    writer(df, 8)  # a NEW batch id appends its own partition
    assert spark.read.parquet(out).count() == 200


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Write both fact tables bucketed on the join key → the join plan
    contains no Exchange (co-located join — the 100 TB answer to
    repeated fact⋈fact joins on a stable key)."""
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("orders_b")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("lineitem_b")
    # Force the SMJ path: at test SF the dim side fits the broadcast
    # threshold and the planner would bypass bucketing entirely.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_stream_stream_join_buffers_across_batches(spark, tmp_path):
    """Stream-stream join must match pairs whose two sides arrive in
    DIFFERENT micro-batches (the state-store buffering that makes it a
    streaming operator at all). Events are staged in key order —
    uncorrelated with event time — so click/purchase pairs straddle
    batch boundaries; a generous watermark keeps all state live, and
    the result must equal the batch self-join."""
    staged = _staged_events_dir(spark, tmp_path)
    stream_result = streams.run_to_memory(
        streams.click_purchase_attribution(
            _stream_staged(spark, staged),
            _stream_staged(spark, staged),
            watermark="30 days",
        ),
        "append",
    )
    ev = load_table(spark, SF_DIR, "events")
    batch_result = streams.click_purchase_attribution(ev, ev, watermark=None)
    a = {tuple(r) for r in stream_result.collect()}
    b = {tuple(r) for r in batch_result.collect()}
    assert a == b and len(b) > 0


def test_stream_stream_left_outer_emits_closed_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: unmatched clicks emit with NULL
    purchase columns once the watermark closes their join window. On a
    finite stream the final batch's unmatched rows may be withheld, so
    the contract is one-sided: every emitted row must be a batch-outer
    row, the inner subset must match the inner stream result exactly,
    and with 4 time-uncorrelated batches at least one closed unmatched
    click must have flushed."""
    staged = _staged_events_dir(spark, tmp_path)
    outer = streams.run_to_memory(
        streams.click_purchase_attribution(
            _stream_staged(spark, staged),
            _stream_staged(spark, staged),
            watermark="10 minutes",
            how="left_outer",
        ),
        "append",
    ).collect()
    ev = load_table(spark, SF_DIR, "events")
    batch_outer = {
        tuple(r)
        for r in streams.click_purchase_attribution(
            ev, ev, watermark=None, how="left_outer"
        ).collect()
    }
    batch_inner = {t for t in batch_outer if t[1] is not None}
    stream_rows = {tuple(r) for r in outer}
    assert stream_rows <= batch_outer
    assert {t for t in stream_rows if t[1] is not None} == batch_inner
    assert any(t[1] is None for t in stream_rows)


def _run_log_stream(spark, log_dir, ckpt, out, **opts):
    from big_data_exercise_spark.sources.pydatasource import file_log_stream

    q = (
        file_log_stream(spark, log_dir, **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_file_log_restart_replays_committed_offsets_only(spark, tmp_path):
    """Kafka-semantics conformance (round-4 verdict item 4): a
    partitioned, offset-tracked log is consumed to a checkpoint, the
    topic GROWS (new records on old partitions + a whole new
    partition), and the restarted stream must resume from the
    committed offsets — every record exactly once, the new partition
    read from 0 (Kafka's new-partition-discovery rule), zero
    duplicates across the restart."""
    from big_data_exercise_spark.sources.pydatasource import (
        FileLogProducer,
        file_log_batch,
    )

    log_dir = str(tmp_path / "log")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    prod = FileLogProducer(log_dir, partitions=2)
    for i in range(20):
        prod.send(f"k{i}", f"v{i}", ts_us=i * 1_000_000)

    _run_log_stream(spark, log_dir, ckpt, out)
    first = spark.read.parquet(out)
    assert first.count() == 20
    # per-partition offsets are dense and monotonic from 0
    for r in (
        first.groupBy("partition")
        .agg(
            F.count("*").alias("n"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
        )
        .collect()
    ):
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1

    # topic grows: more records on existing partitions + a new one
    prod.add_partitions(1)
    for i in range(20, 35):
        prod.send(f"k{i}", f"v{i}", ts_us=i * 1_000_000, partition=i % 3)

    _run_log_stream(spark, log_dir, ckpt, out)
    got = spark.read.parquet(out)
    assert got.count() == 35  # zero duplicates, zero losses
    assert got.select("key").distinct().count() == 35
    assert got.filter(F.col("partition") == 2).count() > 0  # new part read
    # the sink holds exactly the log's batch-read contents
    full = file_log_batch(spark, log_dir).select("partition", "offset", "key")
    assert (
        got.select("partition", "offset", "key")
        .exceptAll(full)
        .union(full.exceptAll(got.select("partition", "offset", "key")))
        .count()
        == 0
    )


def test_file_log_discovers_partition_mid_stream(spark, tmp_path):
    """Partition discovery WITHOUT a restart: the restart test above
    covers topic growth across a checkpoint recovery; Kafka's contract
    also discovers new partitions between triggers of a continuously
    running consumer (metadata refresh, no rebalance restart needed).
    One live query: drain the 2-partition log, grow the topic and
    produce onto all 3 partitions while the query keeps running, drain
    again — the new partition must appear read-from-0 with zero
    duplicates anywhere."""
    from big_data_exercise_spark.sources.pydatasource import (
        FileLogProducer,
        file_log_stream,
    )

    log_dir = str(tmp_path / "log")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    prod = FileLogProducer(log_dir, partitions=2)
    for i in range(12):
        prod.send(f"k{i}", f"v{i}", ts_us=i * 1_000_000)

    q = (
        file_log_stream(spark, log_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 12
        # topic grows while the SAME query is live
        prod.add_partitions(1)
        for i in range(12, 24):
            prod.send(f"k{i}", f"v{i}", ts_us=i * 1_000_000, partition=i % 3)
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.count() == 24  # no loss, no duplicates
    assert got.select("key").distinct().count() == 24
    p2 = got.filter(F.col("partition") == 2)
    assert p2.count() > 0  # discovered without restart
    assert p2.agg(F.min("offset")).collect()[0][0] == 0  # read from 0


def test_file_log_torn_tail_is_invisible_until_committed(spark, tmp_path):
    """Kafka's high-watermark rule for the file stand-in: a torn tail
    (bytes appended, no newline yet — a producer mid-write) must not
    be exposed as an offset, or some task feeds json.loads a partial
    record. The torn record becomes visible exactly when its newline
    lands."""
    import json as _json

    from big_data_exercise_spark.sources.pydatasource import (
        FileLogProducer,
        file_log_batch,
    )

    log_dir = str(tmp_path / "log")
    prod = FileLogProducer(log_dir, partitions=1)
    for i in range(5):
        prod.send(f"k{i}", f"v{i}", ts_us=i * 1_000_000)

    # a producer dies (or is scheduled out) mid-record
    torn = _json.dumps({"k": "k5", "v": "v5", "ts": 5_000_000})
    part_file = prod._file(0)
    with open(part_file, "a", encoding="utf-8") as fh:
        fh.write(torn[: len(torn) // 2])
        fh.flush()

    got = file_log_batch(spark, log_dir)
    assert got.count() == 5  # torn tail invisible, no crash
    assert {r["key"] for r in got.collect()} == {f"k{i}" for i in range(5)}

    # the write completes: the record is committed and appears
    with open(part_file, "a", encoding="utf-8") as fh:
        fh.write(torn[len(torn) // 2 :] + "\n")
    got = file_log_batch(spark, log_dir)
    assert got.count() == 6
    assert got.filter(F.col("key") == "k5").count() == 1


def test_file_log_max_offsets_per_trigger(spark, tmp_path):
    """maxOffsetsPerTrigger caps every micro-batch's record count,
    apportioned across partitions by lag — the Kafka source's rate
    limit policy, enforced from batch 0."""
    from big_data_exercise_spark.sources.pydatasource import (
        FileLogProducer,
        file_log_stream,
    )

    log_dir = str(tmp_path / "log")
    prod = FileLogProducer(log_dir, partitions=3)
    for i in range(23):
        prod.send(f"k{i}", f"v{i}")

    sizes = []
    q = (
        file_log_stream(
            spark, log_dir, max_offsets_per_trigger=7, group_id="rate"
        )
        .writeStream.foreachBatch(lambda df, bid: sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    real = [s for s in sizes if s]
    assert sum(real) == 23
    assert max(real) <= 7, real
    assert len(real) >= 4, real  # 23 records at <=7/batch

    # restart the SAME checkpoint+group after more production: the
    # FIRST recovered batch must clamp too — its baseline comes from
    # the group's committed-offset sidecar (planning happens before
    # the engine reveals the restored start, so without that commit
    # record the first batch would be unclamped)
    for i in range(23, 32):
        prod.send(f"k{i}", f"v{i}")
    sizes2 = []
    q = (
        file_log_stream(
            spark, log_dir, max_offsets_per_trigger=7, group_id="rate"
        )
        .writeStream.foreachBatch(lambda df, bid: sizes2.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    real2 = [s for s in sizes2 if s]
    assert sum(real2) == 9  # no replays, no losses across the restart
    assert max(real2) <= 7, real2
    assert len(real2) >= 2, real2


def test_file_log_latest_starting_offsets(spark, tmp_path):
    """startingOffsets=latest skips the backlog: only records produced
    AFTER the stream's initial offset snapshot are delivered — and the
    checkpoint then owns the position across restarts."""
    from big_data_exercise_spark.sources.pydatasource import FileLogProducer

    log_dir = str(tmp_path / "log")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    prod = FileLogProducer(log_dir, partitions=2)
    for i in range(10):
        prod.send(f"old{i}", "backlog")

    _run_log_stream(spark, log_dir, ckpt, out, starting_offsets="latest")
    import os as _os

    n0 = (
        spark.read.parquet(out).count()
        if _os.path.exists(_os.path.join(out, "_spark_metadata"))
        else 0
    )
    assert n0 == 0  # backlog skipped

    for i in range(5):
        prod.send(f"new{i}", "fresh")
    _run_log_stream(spark, log_dir, ckpt, out, starting_offsets="latest")
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert {r["key"] for r in got.collect()} == {f"new{i}" for i in range(5)}


def test_rocksdb_state_store_backend(spark, tmp_path):
    """The scale-grade state backend: RocksDB spills streaming state
    to local disk instead of pinning it on the JVM heap — at 10⁹ keys
    the HDFS-backed in-memory provider OOMs, RocksDB doesn't. Same
    watermarked windowed aggregation, same results, different
    providerClass: pins that every stateful pipeline here can run on
    the backend a production deployment would configure."""
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    staged = _staged_events_dir(spark, tmp_path)
    try:
        spark.conf.set(key, provider)
        got = streams.run_to_memory(
            streams.tumbling_counts(
                _stream_staged(spark, staged), watermark="10 minutes"
            ),
            "complete",
        )
        rows = {tuple(r) for r in got.collect()}
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    ev = load_table(spark, SF_DIR, "events")
    expect = {
        tuple(r)
        for r in streams.tumbling_counts(ev, watermark=None).collect()
    }
    assert rows == expect and len(rows) > 0


def test_file_log_shrunken_partition_never_plans_backwards(tmp_path):
    """Manual truncation/cleanup of a partition's JSONL log makes its
    size fall BELOW the reader's baseline (negative lag). The planner
    must floor that partition at its start — an end < start corrupts
    the remainder loop (negative takes) and would move the engine's
    committed offsets backwards. Unit-level: drives latestOffset the
    way the engine does, no query needed."""
    from big_data_exercise_spark.sources.pydatasource import (
        FileLogProducer,
        FileLogStreamReader,
    )

    log_dir = str(tmp_path / "log")
    prod = FileLogProducer(log_dir, partitions=3)
    for i in range(30):
        prod.send(f"k{i}", f"v{i}")

    rdr = FileLogStreamReader(log_dir, "earliest", max_per_trigger=5)
    rdr.initialOffset()
    # simulate prior progress: baseline sits mid-log on every partition
    rdr._planned_start = {p: 6 for p in rdr._planned_start}

    # truncate partition 0's file below the baseline
    p0 = tmp_path / "log" / "p00000.jsonl"
    lines = p0.read_bytes().splitlines(keepends=True)
    p0.write_bytes(b"".join(lines[:2]))  # 2 records < baseline 6

    end = rdr.latestOffset()
    start = rdr._baseline()
    assert all(end[p] >= start.get(p, 0) for p in end), (start, end)
    # the clamp still rations the *positive* lag only
    planned = sum(end[p] - start.get(p, 0) for p in end)
    assert 0 < planned <= 5, (start, end)

    # and with the lag small enough to skip the clamp branch the
    # shrunken partition STILL reports its start, not its raw size
    rdr2 = FileLogStreamReader(log_dir, "earliest", max_per_trigger=500)
    rdr2.initialOffset()
    rdr2._planned_start = {p: 6 for p in rdr2._planned_start}
    end2 = rdr2.latestOffset()
    assert end2["0"] == 6 and all(
        end2[p] >= 6 for p in end2
    ), end2

    # UNRATED reader (max_per_trigger=None): the floor must hold here
    # too — raw sizes from a truncated file would regress the offset
    # log directly (round-6 review finding)
    rdr3 = FileLogStreamReader(log_dir, "earliest", max_per_trigger=None)
    rdr3.initialOffset()
    rdr3._planned_start = {p: 6 for p in rdr3._planned_start}
    end3 = rdr3.latestOffset()
    assert end3["0"] == 6 and all(
        end3[p] >= 6 for p in end3
    ), end3


@pytest.mark.slow
def test_state_store_bounded_over_long_feed(spark):
    """Compact CI lane of tools/stream_soak.py (round 9): over a
    60-micro-batch ts-ordered feed, the watermarked dedup's state
    store must PLATEAU (last-quartile mean rows ≤ 1.5× the
    second-quartile mean, floor 64) — a linear state leak fails by
    construction. The 500-file soak (recorded in PLANS.md) runs the
    same assertion over all four stateful pipelines."""
    import importlib.util as _ilu

    spec = _ilu.spec_from_file_location(
        "stream_soak",
        os.path.join(os.path.dirname(__file__), "..", "tools", "stream_soak.py"),
    )
    soak = _ilu.module_from_spec(spec)
    spec.loader.exec_module(soak)

    os.environ["SPARK_GRAFT_STREAM_FEED_FILES"] = "60"
    try:
        series = soak.run_with_progress(
            streams.streaming_dedup_within_watermark(
                streams.stream_events(spark, SF_DIR)
            )
        )
    finally:
        os.environ.pop("SPARK_GRAFT_STREAM_FEED_FILES", None)
    assert len(series) >= 54, len(series)
    n = len(series)
    q2 = [s for s, _ in series[n // 4: n // 2]]
    q4 = [s for s, _ in series[3 * n // 4:]]
    m2, m4 = sum(q2) / len(q2), sum(q4) / len(q4)
    assert m4 <= max(1.5 * m2, 64), (m2, m4)
