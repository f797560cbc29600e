"""Window-function operators (SURVEY.md §2.5).

Absent from the reference (no OVER(...) anywhere); its nearest analogs
are ORDER BY + LIMIT "most recent N" dashboard queries
(fire_detection_app.py:43-44) and post-hoc time bucketing. These
functions expose the idiomatic window surface.

Scale notes: a window partitioned by a key shuffles once on that key
and sorts within partitions — same cost envelope as a groupBy on the
key. Never use a global (unpartitioned) ORDER BY window at scale; all
functions here partition by user/key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """row_number() latest-row-per-key — 'latest frame per camera'
    re-expressed properly (the reference approximates this with
    ORDER BY detection_time DESC LIMIT n per dashboard refresh).

    Deterministic tie-break on event_id desc.
    """
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def running_total_per_user(events: DataFrame) -> DataFrame:
    """Running SUM per user ordered by event time (rowsBetween
    unboundedPreceding..current) — running vehicle-count totals
    analog."""
    from big_data_exercise_spark.functions.numeric import round_det

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        round_det(F.sum("value").over(w), 2).alias("running_value"),
    )


def inter_event_gap_ms(events: DataFrame) -> DataFrame:
    """lag() delta: milliseconds since the user's previous event.

    Millisecond epochs (unix_millis) rather than second-truncation so
    the value is exact and engine-independent.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis(F.col("ts"))
    return events.select(
        "user_id",
        "event_id",
        (ts_ms - F.lag(ts_ms).over(w)).alias("gap_ms"),
    )


def top_k_per_group(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k rows per group — the scalable form of 'top 50 counts per
    camera' (VEHICLE_COUNTING_GUIDE.md:85-95).

    The group key (event_type) is a ~5-value domain, so the obvious
    ``row_number().over(W.partitionBy("event_type"))`` caps
    parallelism at 5 and sorts ~n/5 rows per task — a funnel at 100×.
    And unlike NTILE/percent_rank (which need every row's exact rank —
    see :func:`value_ranks`), top-k only needs k SURVIVORS per group,
    so the fact table never has to shuffle at all: Catalyst's
    ``InferWindowGroupLimit`` plans the ``rk <= k`` filter as
    ``WindowGroupLimit … Partial`` below the Exchange — each scan
    partition truncates itself to k rows per group (local top-k under
    the same total order is superset-safe: every global top-k row is a
    local top-k row) — and ``… Final`` above it, so only
    ≤ k·groups·partitions rows reach the small partitioned merge
    window.  Same pattern as knn.cosine_topk_batch, plan-test pinned
    there and here.  Both limits sort in Spark's float total order:
    under ``desc(value)`` NaN ranks above every finite value and NULL
    last."""
    from big_data_exercise_spark.functions.numeric import round_det

    w = W.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "event_type", "rk", "event_id", "user_id",
            round_det(F.col("value"), 2).alias("value"),
        )
    )


def value_ranks(events: DataFrame, top: int = 20) -> DataFrame:
    """dense_rank / percent_rank / ntile per group — the ranking
    surface beyond row_number (W1-W4) — in DISTRIBUTED form.  The
    order (value DESC, event_id) is total (event_id is unique), so
    dense_rank = rank = row_number; percent_rank is the integer ratio
    (rank−1)/(n−1) both engines compute identically; ntile is the
    SQL-standard ceil/floor split (:func:`ntile_from_rank`) applied to
    the exact rank against the broadcast per-group count.  All three
    therefore derive from ONE :func:`grouped_row_number` pass — range
    partitioned, so the 5-value group key doesn't cap parallelism the
    way a ``W.partitionBy("event_type")`` sort would.  Bounded to the
    top ``top`` ranks per type for a stable result set."""
    from big_data_exercise_spark.functions.numeric import round_det

    ranked = grouped_row_number(
        events.select("event_type", "event_id", "value"),
        ["event_type"],
        [F.desc("value"), F.asc("event_id")],
        "__rn",
    )
    counts = events.groupBy("event_type").agg(F.count("*").alias("__n"))
    pr = F.when(F.col("__n") == 1, F.lit(0.0)).otherwise(
        (F.col("__rn") - 1).cast("double") / (F.col("__n") - 1).cast("double")
    )
    return (
        ranked.join(F.broadcast(counts), "event_type")
        # Filter on the LONG rank, cast only the surviving top rows:
        # a 100 TB group's row number exceeds int32, so casting before
        # the filter wraps silently in permissive mode and throws
        # under ANSI. Post-filter, dr ≤ top is always int-safe.
        .filter(F.col("__rn") <= top)
        .select(
            "event_type",
            "event_id",
            F.col("__rn").cast("int").alias("dr"),
            round_det(pr, 6).alias("pr"),
            ntile_from_rank(F.col("__rn"), F.col("__n"), 4).alias("quartile"),
        )
    )


def user_first_last_events(events: DataFrame) -> DataFrame:
    """Frame-spec window surface: first_value / last_value / nth_value
    over an explicit UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING frame.
    The default frame (..CURRENT ROW) makes last_value return the
    current row — the classic window bug; the explicit full frame is
    the correct form, and since all three functions share ONE window
    spec Spark computes them in a single sort pass per user."""
    full = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.first("event_type").over(full).alias("first_type"),
            F.last("event_type").over(full).alias("last_type"),
            F.nth_value("event_type", 2).over(full).alias("second_type"),
        )
        .groupBy("user_id", "first_type", "last_type", "second_type")
        .agg(F.count("event_id").alias("n_events"))
    )


def trailing_hour_sums(events: DataFrame) -> DataFrame:
    """RANGE-framed window: per user, the running sum of values over
    the TRAILING HOUR of event time — the time-windowed aggregate
    rows-frames can't express (a rows frame counts rows, not time).
    The frame is anchored on epoch seconds; at scale this is the same
    single sort per user as any window, with state bounded by the
    hour's row count."""
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    from big_data_exercise_spark.functions.numeric import DEC, round_det

    return events.select(
        "user_id",
        "event_id",
        round_det(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 2).alias(
            "trailing_hour_value"
        ),
    )


def ntile_histogram(events: DataFrame, buckets: int = 10) -> DataFrame:
    """Per-group equi-height histogram via NTILE: within each
    event_type, rows are ranked by (value, event_id) — a total,
    deterministic order — and split into ``buckets`` equal-count
    bins; each bin reports its count and [lo, hi] value bounds.

    Scale note: NTILE needs each row's exact rank within its group,
    and a ``W.partitionBy(event_type)`` sort caps parallelism at the
    5-value type domain (~n/5 rows through each task).  The exact rank
    instead comes from :func:`grouped_row_number` (range-partitioned —
    parallelism = partition count) and the SQL-standard bucket formula
    :func:`ntile_from_rank` against the broadcast per-group count:
    identical buckets, no low-cardinality sort funnel.  For an
    approximate histogram over a 100 TB column the cheaper path is
    approx_percentile cutpoints (see value_percentiles); this operator
    is the exact equi-height form.

    NULL-value rows stay IN the histogram (standard NTILE) and rank
    lowest — F.asc is NULLS FIRST, and the oracle pins the same
    placement explicitly because DuckDB's ASC default is NULLS LAST
    (round-8 NULL-dirt fuzz finding). An all-NULL bucket reports
    lo = hi = NULL on both engines (MIN/MAX skip NULLs).
    """
    ranked = grouped_row_number(
        events.select("event_type", "event_id", "value"),
        ["event_type"],
        [F.asc("value"), F.asc("event_id")],
        "__rn",
    )
    counts = events.groupBy("event_type").agg(F.count("*").alias("__n"))
    return (
        ranked.join(F.broadcast(counts), "event_type")
        .withColumn(
            "bucket", ntile_from_rank(F.col("__rn"), F.col("__n"), buckets)
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed prefix sums — the scale-safe replacement for GLOBAL
# (unpartitioned) ordered windows.  A `W.orderBy(...)` window with no
# partitionBy funnels every row through ONE task ("WindowExec: No
# Partition Defined"); the helpers below compute the identical result
# with parallelism = the number of range partitions.
# ---------------------------------------------------------------------------


def broadcast_prefix_offsets(
    totals: DataFrame, key: str, value: str, out: str
) -> DataFrame:
    """For a TINY keyed table (one row per partition / day / bucket —
    at most a few thousand rows), compute each key's *exclusive*
    prefix sum — the sum of ``value`` over all strictly-smaller keys —
    WITHOUT any window function: a broadcast triangular self-join plus
    a grouped sum.  O(K²) pair comparisons on K rows is trivial for
    the intended inputs, and the plan contains no global sort and no
    single-partition exchange beyond the broadcast itself.

    Returns ``totals`` with ``out`` added (0 for the smallest key).
    """
    return broadcast_grouped_prefix_offsets(totals, [], key, value, out)


def broadcast_grouped_prefix_offsets(
    totals: DataFrame, group_cols: list, key: str, value: str, out: str
) -> DataFrame:
    """PER-GROUP generalization of :func:`broadcast_prefix_offsets`:
    within each ``group_cols`` value, the exclusive prefix sum of
    ``value`` over strictly-smaller ``key`` rows.  The triangular pair
    space is grouped — a hash join on the group columns with the
    ``key`` inequality as residual, so K_g² comparisons per group,
    never K² across groups.  Intended for tiny totals tables
    (#groups × #partitions rows)."""
    right = totals.select(
        *[F.col(g).alias(f"__bg_{g}") for g in group_cols],
        F.col(key).alias("__bk"),
        F.col(value).alias("__bv"),
    )
    cond = F.col("__bk") < F.col(key)
    for g in group_cols:
        # null-safe: a NULL group key is a group like any other (the
        # window semantics these helpers replace treat it as one
        # partition); plain == would strand its slices at offset 0
        cond = F.col(f"__bg_{g}").eqNullSafe(F.col(g)) & cond
    return (
        totals.join(F.broadcast(right), cond, "left")
        .groupBy(*[F.col(c) for c in totals.columns])
        .agg(F.coalesce(F.sum("__bv"), F.lit(0)).cast("long").alias(out))
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value,
    out: str,
    num_partitions: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact global running sum (inclusive) of ``value`` under a TOTAL
    order, without a single-partition window — the textbook
    distributed prefix sum:

    1. ``repartitionByRange`` on the order columns: partition *i*
       holds a contiguous slice of the total order strictly before
       partition *i+1*'s (the order is total, so equal keys cannot
       straddle a boundary).
    2. Stamp ``spark_partition_id()`` and run the running sum inside a
       window PARTITIONED by that id — parallelism = number of range
       partitions, never 1.
    3. Per-partition totals form a tiny (≤ #partitions rows) table;
       each partition's exclusive prefix offset comes from
       ``broadcast_prefix_offsets`` (no window), broadcast-joined
       back; running = local running + partition offset.

    The pid-stamped frame is persisted: ``spark_partition_id()`` must
    agree between the offsets branch and the join-back branch, and
    range partitioning re-samples its bounds on recomputation.

    ``global_row_number`` is the ``value = lit(1)`` special case.
    Pass fully tie-broken ``order_cols`` (e.g. ``[F.desc("c"),
    F.asc("key")]``) — a partial order is nondeterministic in any
    engine.
    """
    return grouped_running_sum(
        df, [], order_cols, value, out, num_partitions, checkpoint
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    value,
    out: str,
    num_partitions: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """PER-GROUP exact running sum (inclusive) of ``value`` under a
    total order WITHIN each group — the grouped generalization of
    :func:`global_running_sum`, for when the group key's cardinality
    is LOW (a 5-value event_type column): a plain
    ``W.partitionBy(group)`` window caps parallelism at #groups and
    funnels ~n/#groups rows through each sort task, the same shape as
    an unpartitioned window one level down.

    Range-partition on ``(group_cols, order_cols)`` instead: a group's
    rows span a contiguous run of partitions, in order, so

    1. the local running sum rides a window partitioned by
       ``(partition_id, group)`` — parallelism = range partitions;
    2. per-(partition, group) totals form a tiny table (≤ #parts ×
       #groups-touching-that-part rows);
    3. each slice's exclusive offset is the within-group prefix over
       smaller partition ids (:func:`broadcast_grouped_prefix_offsets`
       — no window), broadcast-joined back.

    The pid-stamped frame is localCheckpoint'ed (lazy): partition ids
    must agree between the totals branch and the join-back branch, and
    — unlike ``persist()`` — RDD-level checkpoint blocks are released
    by the ContextCleaner when the frame is garbage-collected instead
    of accumulating in the CacheManager for the life of the session.
    (Shared trade-off for every localCheckpoint in this codebase,
    stated once here: lineage is truncated, so a lost executor's
    blocks cannot be recomputed — on clusters with dynamic allocation
    or preemptible nodes substitute reliable ``checkpoint()`` to a
    cluster filesystem, or persist(DISK_ONLY) with the explicit
    unpersist discipline this design replaced.)
    """
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(
        n_parts, *group_cols, *order_cols
    ).withColumn("__pid", F.spark_partition_id())
    local_w = (
        W.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = ranged.withColumn("__run", F.sum(value).over(local_w))
    if checkpoint:
        local = local.localCheckpoint(eager=False)
    totals = local.groupBy("__pid", *group_cols).agg(F.sum(value).alias("__tot"))
    offsets = broadcast_grouped_prefix_offsets(
        totals, group_cols, "__pid", "__tot", "__off"
    )
    # join-back is null-safe on the group columns for the same reason
    # as the prefix join: rows whose group key is NULL must keep their
    # ranks, exactly as the window form they replace would rank them
    off_sel = offsets.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{g}") for g in group_cols],
        "__off",
    )
    cond = local["__pid"] == off_sel["__opid"]
    for g in group_cols:
        cond = cond & local[g].eqNullSafe(off_sel[f"__og_{g}"])
    return (
        local.join(F.broadcast(off_sel), cond)
        .withColumn(out, (F.col("__run") + F.col("__off")).cast("long"))
        .drop("__pid", "__run", "__off", "__opid",
              *[f"__og_{g}" for g in group_cols])
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number under a total order — the
    ``value = 1`` case of :func:`global_running_sum`: no
    single-partition sort, parallelism = range-partition count."""
    return global_running_sum(df, order_cols, F.lit(1), out, num_partitions)


def grouped_row_number(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    out: str,
    num_partitions: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact 1-based row_number within each group under a total order —
    the ``value = 1`` case of :func:`grouped_running_sum`.  Replaces
    ``row_number().over(W.partitionBy(group).orderBy(...))`` when the
    group key is low-cardinality: same result, parallelism =
    range-partition count instead of #groups."""
    return grouped_running_sum(
        df, group_cols, order_cols, F.lit(1), out, num_partitions, checkpoint
    )


def ntile_from_rank(rank, n, k: int):
    """SQL-standard NTILE bucket from an exact 1-based ``rank`` and
    total count ``n`` (both Columns): with q = n div k and rem =
    n mod k, the first ``rem`` buckets hold q+1 rows, the rest q —
    identical to Spark's and DuckDB's NTILE over the same total
    order.  Pure integer arithmetic (floor on exact sub-2^53 doubles),
    so the bucketing is engine-independent; combined with
    :func:`global_row_number` it replaces a global NTILE window with
    a fully parallel plan.
    """
    q = F.floor(n / F.lit(k)).cast("long")
    rem = (n - q * F.lit(k)).cast("long")
    big = (q + F.lit(1)) * rem  # rows covered by the q+1-sized buckets
    return F.when(
        rank <= big, F.floor((rank + q) / (q + F.lit(1)))
    ).otherwise(
        rem + F.floor((rank - big + q - F.lit(1)) / q)
    ).cast("int")


def broadcast_prefix_max(
    totals: DataFrame, key: str, value: str, out: str
) -> DataFrame:
    """MAX sibling of :func:`broadcast_prefix_offsets`: each key's
    EXCLUSIVE prefix maximum (max of ``value`` over strictly-smaller
    keys; NULL when no predecessor — the natural identity for max).
    Same tiny-table triangular broadcast join, no window."""
    left = totals
    right = totals.select(
        F.col(key).alias("__bk"), F.col(value).alias("__bv")
    )
    return (
        left.join(F.broadcast(right), F.col("__bk") < F.col(key), "left")
        .groupBy(*[F.col(c) for c in totals.columns])
        .agg(F.max("__bv").alias(out))
    )


def global_exclusive_running_max(
    df: DataFrame,
    order_cols: list,
    value,
    out: str,
    num_partitions: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact EXCLUSIVE global running max of ``value`` under a total
    order — max over all strictly-preceding rows, NULL for the first —
    without a single-partition window.  Same two-pass decomposition as
    :func:`global_running_sum` (max is associative, which is all the
    decomposition needs): range partition → pid-partitioned local
    window with an UNBOUNDED..-1 frame → broadcast triangular prefix
    max of per-partition totals → ``greatest`` of the two (Spark's
    greatest skips NULLs, so partition/row boundaries need no special
    cases).  This is the skyline/Pareto-frontier workhorse: 'the best
    value among everything ranked before me'."""
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_parts, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local_w = (
        W.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # lazy localCheckpoint, not persist(): pid agreement between the
    # totals and join-back branches without leaving CacheManager
    # entries behind for the session's lifetime (blocks are GC'd with
    # the frame) — see grouped_running_sum.
    local = ranged.withColumn("__lex", F.max(value).over(local_w))
    if checkpoint:
        local = local.localCheckpoint(eager=False)
    totals = local.groupBy("__pid").agg(F.max(value).alias("__tot"))
    offsets = broadcast_prefix_max(totals, "__pid", "__tot", "__off")
    return (
        local.join(F.broadcast(offsets.select("__pid", "__off")), "__pid")
        .withColumn(out, F.greatest("__lex", "__off"))
        .drop("__pid", "__lex", "__off")
    )
