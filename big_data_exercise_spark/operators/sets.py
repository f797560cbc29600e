"""Set operators (SURVEY.md §2.7) — absent from the reference, filled
with built-ins: union/unionByName, intersect, exceptAll,
dropDuplicates.

Scale notes: INTERSECT/EXCEPT are hash aggregations on the full row —
at 100 TB always project to the key columns first (these functions
do), so the shuffle carries keys, not payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _users_of(events: DataFrame, event_type: str) -> DataFrame:
    return events.filter(F.col("event_type") == event_type).select("user_id")


def users_intersect(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Users who did BOTH type_a and type_b (INTERSECT = distinct
    semi-join)."""
    return _users_of(events, type_a).intersect(_users_of(events, type_b))


def users_except(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Users who did type_a but never type_b (EXCEPT DISTINCT —
    ``subtract`` is Spark's distinct set difference)."""
    return _users_of(events, type_a).subtract(_users_of(events, type_b))


def all_user_type_pairs(events: DataFrame) -> DataFrame:
    """dropDuplicates on a projection — the exact-dedup primitive that
    also backs dedup.exact (distinct (user, type) pairs)."""
    return events.select("user_id", "event_type").dropDuplicates()


def union_click_purchase_stats(events: DataFrame) -> DataFrame:
    """unionByName with allowMissingColumns (SET-u): click rows carry
    ``value``, purchase rows don't — missing columns null-fill, the
    union is by NAME (order-independent), and the aggregate skips the
    nulls. Per-user rollup over the combined relation."""
    from big_data_exercise_spark.functions.numeric import exact_sum

    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id"
    )
    combined = clicks.unionByName(purchases, allowMissingColumns=True)
    return combined.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        F.count("value").alias("n_click_rows"),
        exact_sum(F.col("value")).alias("click_value"),
    )


def user_days_except_all(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): per-occurrence subtraction —
    a user-day with 3 clicks and 1 purchase keeps 2 rows, where
    EXCEPT DISTINCT would drop it entirely. The multiset forms are
    the right semantics for event-frequency comparisons."""
    a = events.filter(F.col("event_type") == type_a).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    b = events.filter(F.col("event_type") == type_b).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    return a.exceptAll(b)


def user_days_intersect_all(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Multiset intersection (INTERSECT ALL): min-of-multiplicities
    per (user, day) pair."""
    a = events.filter(F.col("event_type") == type_a).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    b = events.filter(F.col("event_type") == type_b).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    return a.intersectAll(b)


def snapshot_mutate(customer: DataFrame) -> DataFrame:
    """Deterministic synthetic "tomorrow" snapshot of the customer
    table — the fixture side of snapshot_diff: every 13th key deleted,
    every 7th surviving key's balance bumped, every 17th key cloned as
    an insert under a shifted key."""
    key = F.col("c_custkey")
    survivors = customer.filter(key % 13 != 0).withColumn(
        "c_acctbal",
        F.when(key % 7 == 0, F.col("c_acctbal") + F.lit(10.0)).otherwise(
            F.col("c_acctbal")
        ),
    )
    inserts = customer.filter(key % 17 == 0).withColumn(
        "c_custkey", key + F.lit(1000000)
    )
    return survivors.unionByName(inserts)


def snapshot_diff(base: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot reconciliation: full-outer join two table versions on
    the key and classify every row as insert / delete / update / same
    — the anti-entropy check a pipeline runs between a source extract
    and yesterday's warehouse copy. One shuffle on the key; at 100 TB
    both sides bucket-join co-located on c_custkey.

    Output: per-status row count and total absolute balance drift.
    """
    from big_data_exercise_spark.functions.numeric import exact_sum

    # Presence is marked by a literal flag, NEVER by the balance
    # column: a row that EXISTS with a NULL balance is not an insert
    # (round-8 NULL-dirt fuzz finding). The update test is null-safe
    # (NULL vs non-NULL balance IS an update; NULL vs NULL is same).
    b = base.select(
        "c_custkey", F.col("c_acctbal").alias("b_bal"),
        F.lit(True).alias("b_present"),
    )
    n = new.select(
        "c_custkey", F.col("c_acctbal").alias("n_bal"),
        F.lit(True).alias("n_present"),
    )
    j = b.join(n, "c_custkey", "full_outer")
    status = (
        F.when(F.col("b_present").isNull(), F.lit("insert"))
        .when(F.col("n_present").isNull(), F.lit("delete"))
        .when(~F.col("b_bal").eqNullSafe(F.col("n_bal")), F.lit("update"))
        .otherwise(F.lit("same"))
    )
    drift = F.abs(F.coalesce("n_bal", F.lit(0.0)) - F.coalesce("b_bal", F.lit(0.0)))
    return (
        j.select(status.alias("status"), drift.alias("drift"))
        .groupBy("status")
        .agg(F.count("*").alias("n_rows"), exact_sum(F.col("drift")).alias("bal_drift"))
    )


def incremental_agg_refresh(base: DataFrame, new: DataFrame) -> DataFrame:
    """Materialized-view maintenance: refresh a per-segment aggregate
    from a CDC delta WITHOUT rescanning the new snapshot's full
    grouping — base_agg + per-segment deltas derived from the keyed
    diff. At 100 TB this is the difference between re-aggregating the
    whole table and touching only the changed keys.

    Exactness discipline: per-row balance deltas are computed in
    DECIMAL (cast first, subtract second), so
    Σ(base) + Σ(delta) ≡ Σ(new) bit-for-bit and the driver's oracle —
    a FULL recompute over the mutated snapshot — hashes identically.
    That equality IS the correctness statement for incremental
    maintenance.
    """
    from big_data_exercise_spark.functions.numeric import DEC, round_det

    zero = F.lit(0).cast(DEC)
    # Row presence is a literal flag (a present row with NULL balance
    # is NOT a delete/insert), and the segment merge join is
    # NULL-SAFE: a plain equi-join never matches the NULL-segment
    # group, splitting it into a base row and a delta row — observed
    # as a negative n_customers under the round-8 NULL-dirt fuzz.
    b = base.select(
        "c_custkey",
        F.col("c_acctbal").alias("b_bal"),
        F.col("c_mktsegment").alias("b_seg"),
        F.lit(True).alias("b_present"),
    )
    n = new.select(
        "c_custkey",
        F.col("c_acctbal").alias("n_bal"),
        F.col("c_mktsegment").alias("n_seg"),
        F.lit(True).alias("n_present"),
    )
    # SQL-SUM NULL convention, maintained incrementally: SUM over an
    # all-NULL (or empty) group is NULL, not 0 — so the delta state
    # carries the NON-NULL VALUE COUNT (dnv) next to the running sum,
    # and the refreshed total degrades to NULL exactly when that
    # count reaches 0 (round-8 NULL-dirt fuzz: the coalesce-only form
    # emitted 0.0 where the full recompute says NULL). This is the
    # textbook incremental-AVG/SUM-with-NULLs bookkeeping.
    nn = lambda p, v: F.when(  # noqa: E731 — local combinator
        p.isNotNull() & v.isNotNull(), F.lit(1)
    ).otherwise(F.lit(0))
    delta = (
        b.join(n, "c_custkey", "full_outer")
        .select(
            F.coalesce("n_seg", "b_seg").alias("c_mktsegment"),
            F.when(F.col("n_present").isNull(), F.lit(-1))
            .when(F.col("b_present").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dn"),
            (
                F.coalesce(F.col("n_bal").cast(DEC), zero)
                - F.coalesce(F.col("b_bal").cast(DEC), zero)
            ).alias("ds"),
            (
                nn(F.col("n_present"), F.col("n_bal"))
                - nn(F.col("b_present"), F.col("b_bal"))
            ).cast("long").alias("dnv"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum("dn").alias("dn"),
            F.sum("ds").alias("ds"),
            F.sum("dnv").alias("dnv"),
        )
    )
    base_agg = base.groupBy("c_mktsegment").agg(
        F.count("*").alias("n0"),
        F.sum(F.col("c_acctbal").cast(DEC)).alias("s0"),
        F.count("c_acctbal").alias("nv0"),
    )
    return base_agg.join(
        delta,
        base_agg["c_mktsegment"].eqNullSafe(delta["c_mktsegment"]),
        "full_outer",
    ).select(
        F.coalesce(base_agg["c_mktsegment"], delta["c_mktsegment"]).alias(
            "c_mktsegment"
        ),
        (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .cast("long")
        .alias("n_customers"),
        F.when(
            (F.coalesce("nv0", F.lit(0)) + F.coalesce("dnv", F.lit(0))) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            round_det(
                (
                    F.coalesce(F.col("s0"), zero)
                    + F.coalesce(F.col("ds"), zero)
                ).cast("double"),
                2,
            )
        )
        .alias("total_acctbal"),
    )


def referential_integrity_audit(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """Foreign-key integrity audit across the star schema: orphan
    counts for each declared relationship (lineitems without an order,
    orders without a customer) plus childless parents (orders with no
    lineitem) — the data-quality gate to run after any ingest. Each
    check is ONE anti-join (left_anti drops the probe payload before
    the shuffle and never duplicates rows); output is one row per
    relationship so the report is constant-size at any SF.

    A NULL foreign key is an ABSENT reference, not a broken one —
    standard referential integrity vacuously holds on NULL FKs, so
    orphan counts cover non-NULL FKs only (pinned both ways: a bare
    left_anti would count NULL FKs as orphans while the oracle's
    NOT IN drops them — round-8 NULL-dirt fuzz finding). The same
    guard applies to the childless-orders probe side: a NULL
    o_orderkey is an absent key, not a childless order — and without
    the symmetric filter the engines split on the empty-lineitem
    corner (NOT IN over an EMPTY subquery is TRUE even for a NULL
    probe, so the oracle would count NULL-key orders that a
    NULL-filtered Spark side drops)."""
    from pyspark.sql import functions as F

    li_orphans = lineitem.filter(F.col("l_orderkey").isNotNull()).join(
        orders.select("o_orderkey"),
        lineitem.l_orderkey == orders.o_orderkey,
        "left_anti",
    ).agg(
        F.lit("lineitem->orders").alias("relationship"),
        F.count("*").alias("n_orphans"),
    )
    ord_orphans = orders.filter(F.col("o_custkey").isNotNull()).join(
        customer.select("c_custkey"),
        orders.o_custkey == customer.c_custkey,
        "left_anti",
    ).agg(
        F.lit("orders->customer").alias("relationship"),
        F.count("*").alias("n_orphans"),
    )
    childless = orders.filter(F.col("o_orderkey").isNotNull()).join(
        lineitem.select("l_orderkey"),
        orders.o_orderkey == lineitem.l_orderkey,
        "left_anti",
    ).agg(
        F.lit("orders-without-lineitems").alias("relationship"),
        F.count("*").alias("n_orphans"),
    )
    return li_orphans.unionByName(ord_orphans).unionByName(childless)


def incremental_join_refresh(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view — the delta
    rule Δ(A⋈B) = ΔA⋈B ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, the other half of the
    CDC story next to incremental_agg_refresh's agg identity.

    The view is revenue-by-priority over orders⋈lineitem. "Arriving"
    batches are carved deterministically (o_orderkey % 17 == 0 /
    l_orderkey % 13 == 0 are the deltas); the maintained result =
    base partial-agg + three delta-join partial-aggs, combined with a
    final regroup. At 100 TB this is the point: the base fact⋈fact
    join is NEVER recomputed — each refresh joins only the deltas
    against the other side, shrinking refresh cost from O(|A|·|B|
    join work) to O(|Δ| · probe). Join strategy for the delta
    quadrants is left to Catalyst/AQE (the repo rule: explicit
    broadcast hints only on size-invariant sides): a genuinely-small
    CDC batch auto-broadcasts under the threshold, while a
    backfill-scale delta — or this fixture's SF-proportional %17
    carve — degrades to a shuffle join instead of forcing an
    executor-OOM-sized broadcast.

    The DuckDB oracle is a FULL recompute of the view over all data —
    hash equality executes the distributivity proof that the three
    delta quadrants plus the base cover every joined row exactly once.
    """
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    o = orders.select("o_orderkey", "o_orderpriority")
    l = lineitem.select("l_orderkey", rev)
    o_old = o.filter(F.col("o_orderkey") % 17 != 0)
    o_new = o.filter(F.col("o_orderkey") % 17 == 0)
    l_old = l.filter(F.col("l_orderkey") % 13 != 0)
    l_new = l.filter(F.col("l_orderkey") % 13 == 0)

    def part(os_, ls_):
        j = os_.join(ls_, os_["o_orderkey"] == ls_["l_orderkey"])
        return j.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("rev").cast("decimal(30,8)")).alias("dec_rev"),
        )

    base = part(o_old, l_old)
    d1 = part(o_new, l_old)   # ΔA ⋈ B_old
    d2 = part(o_old, l_new)   # A_old ⋈ ΔB
    d3 = part(o_new, l_new)   # ΔA ⋈ ΔB
    from big_data_exercise_spark.functions.numeric import round_det

    combined = base.unionByName(d1).unionByName(d2).unionByName(d3)
    return (
        combined.groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_items"),
            round_det(F.sum("dec_rev").cast("double"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
