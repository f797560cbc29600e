"""Streaming state-bound soak (round 9): run the stateful pipelines
over a long (default 500-file) ts-ordered feed and assert state
hygiene, not just final-result correctness.

The 24-file bench feed proves the results; it cannot prove that the
watermark actually EVICTS — a state leak (rows accreting across the
run) only shows up when the feed is long enough for steady state to
dominate warmup. This soak runs four watermark-evicting pipelines in
append mode over N micro-batches and checks, from each query's own
progress telemetry (`recentProgress[].stateOperators`):

* **state bounded**: mean state-store rows over the LAST quartile of
  batches ≤ 1.5× the mean over the second quartile (post-warmup
  baseline) — a linear leak fails this by construction, while a
  watermark-bounded operator plateaus at ~delay-width of keys;
* **latency flat**: p95 batch duration over the last quartile ≤ 2×
  the second-quartile p95 — state growth shows up in batch walls even
  when row counts hide it (e.g. tombstone accumulation);
* **liveness**: ≥ 0.9·N data-carrying batches actually executed (the
  soak must not silently collapse into a few merged batches).

The tumbling aggregation runs in APPEND mode here (unlike its
complete-mode oracle twin) because append is the mode in which the
watermark closes and evicts windows — eviction is the property under
test.

Usage: python tools/stream_soak.py [sf_dir] [n_files]
"""
from __future__ import annotations

import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# argv only when run as a script — the compact pytest lane imports
# this module for run_with_progress and must not see pytest's argv
if __name__ == "__main__" and len(sys.argv) > 1:
    SF_DIR = sys.argv[1]
    N_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 500
else:
    SF_DIR = "/root/testdata/sf0.1"
    N_FILES = 500

FAILS: list[str] = []


def run_with_progress(result, output_mode: str = "append"):
    """Run a streaming plan to completion; return the per-batch
    (state_rows, batch_ms) series for data-carrying batches."""
    from big_data_exercise_spark.session import scratch_dir

    spark = result.sparkSession
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = (
        result.writeStream.format("memory")
        .queryName(f"soak_{uuid.uuid4().hex[:12]}")
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir("bdes_soak_"))
        .start()
    )
    try:
        q.processAllAvailable()
        series = []
        for p in q.recentProgress or []:
            if p.numInputRows > 0:
                state = sum(
                    so.numRowsTotal for so in (p.stateOperators or [])
                )
                series.append((state, float(p.batchDuration)))
        return series
    finally:
        q.stop()
        q.awaitTermination()
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def p95(xs: list[float]) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.95 * len(xs)))] if xs else 0.0


def check_series(name: str, series, n_feed: int) -> None:
    n = len(series)
    q2 = series[n // 4: n // 2]
    q4 = series[3 * n // 4:]
    state_q2 = sum(s for s, _ in q2) / max(1, len(q2))
    state_q4 = sum(s for s, _ in q4) / max(1, len(q4))
    lat_q2 = p95([ms for _, ms in q2])
    lat_q4 = p95([ms for _, ms in q4])
    # floor of 64 rows: a tiny-state operator's quartile means jitter
    # multiplicatively on single-digit row counts
    bounded = state_q4 <= max(1.5 * state_q2, 64)
    flat = lat_q4 <= max(2.0 * lat_q2, 2000.0)
    live = n >= int(0.9 * n_feed)
    rec = {
        "n_batches": n, "state_q2_mean": round(state_q2, 1),
        "state_q4_mean": round(state_q4, 1),
        "latency_p95_q2_ms": lat_q2, "latency_p95_q4_ms": lat_q4,
        "state_bounded": bounded, "latency_flat": flat, "liveness": live,
    }
    print(f"{name}: {json.dumps(rec)}", flush=True)
    if not (bounded and flat and live):
        FAILS.append(name)


def main() -> None:
    os.environ["SPARK_GRAFT_STREAM_FEED_FILES"] = str(N_FILES)
    from big_data_exercise_spark.session import get_spark
    from big_data_exercise_spark.streaming import pipelines as streams

    spark = get_spark("stream-soak")

    pipelines = {
        "tumbling_append": lambda: streams.tumbling_counts(
            streams.stream_events(spark, SF_DIR)
        ),
        "stream_stream_join": lambda: streams.click_purchase_attribution(
            streams.stream_events(spark, SF_DIR),
            streams.stream_events(spark, SF_DIR),
            watermark="10 minutes",
        ),
        "stream_stream_left_outer": lambda: streams.click_purchase_attribution(
            streams.stream_events(spark, SF_DIR),
            streams.stream_events(spark, SF_DIR),
            watermark="10 minutes",
            how="left_outer",
        ),
        "watermark_dedup": lambda: streams.streaming_dedup_within_watermark(
            streams.stream_events(spark, SF_DIR)
        ),
    }
    for name, build in pipelines.items():
        series = run_with_progress(build())
        check_series(name, series, N_FILES)
    print("BAD:", ", ".join(FAILS) if FAILS else "none", flush=True)
    spark.stop()
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
