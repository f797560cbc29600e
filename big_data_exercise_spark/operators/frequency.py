"""Heavy hitters at scale: Misra-Gries candidate generation + exact
verification.

The naive "frequent keys" plan — groupBy(key).count() over everything —
shuffles one row per DISTINCT key. At 100 TB with ~10⁹ keys that is a
full-cardinality shuffle to answer a question whose output is a handful
of rows. The two-phase plan bounds the shuffle by the SKETCH size
instead:

1. **Per-partition Misra-Gries(k)** in one Arrow ``mapInPandas`` pass:
   each partition maintains ≤ k counters; batches fold in VECTORIZED
   (pandas value_counts + the batched MG merge: add, then subtract the
   (k+1)-th largest count from all and drop the non-positive). The
   classic averaging argument makes the union of per-partition
   candidates a SUPERSET of every key with global frequency > n/k —
   if freq(x) > n/k globally, some partition has freq_p(x) > n_p/k,
   and MG(k) never evicts such a key from that partition's summary.
2. **Exact verify**: semi-join the input on the (broadcast, ≤ k ×
   partitions rows) candidate set, count exactly, keep freq·k > n
   (integer compare — no float division). The only full-cardinality
   structure anywhere is per-partition and capped at k entries.

So the result is EXACT — same rows as the naive plan, provably — while
the shuffle carries candidate keys only. The DuckDB oracle runs the
naive plan; hash equality is the supersetness proof executed.

The MG summary is mergeable (same add-then-decrement rule), which is
what makes this the streaming/partial-agg-friendly sketch; here the
merge point is the candidate union + exact recount, the cheapest
correct combiner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

K_COUNTERS = 256


def heavy_hitters(
    events: DataFrame, key: str = "user_id", k: int = K_COUNTERS
) -> DataFrame:
    """Exact keys with frequency > n/k. Output: (key, n_events) —
    at most k−1 rows by the pigeonhole bound.

    At the test fixtures' key cardinality (≪ k) the candidate set is
    every key — the prefilter earns its keep only when distinct keys
    ≫ k, which is exactly the 100 TB regime it exists for; the plan
    shape (bounded per-partition state, broadcast candidates, integer
    threshold) is identical at both scales.
    """
    src = events.select(F.col(key).alias("k"))
    # NULL keys never enter the sketch (pandas value_counts drops
    # them; an equi semi-join can't match them) — but they don't need
    # to: their exact global count is one aggregate, computed below
    # alongside n_total and unioned back in when it clears the
    # threshold. Exactness therefore covers the FULL key domain,
    # NULL included (round-6 review finding).
    src_nn = src.filter(F.col("k").isNotNull())

    def mg_partition(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            # fill_value=0 upcasts the merge to float64; recast so the
            # sketch stays integer-exact (float64 silently rounds past
            # 2^53 — unreachable per-partition, but exact is free).
            counters = counters.add(
                pdf["k"].value_counts(), fill_value=0
            ).astype("int64")
            if len(counters) > k:
                # batched MG decrement: subtract the (k+1)-th largest
                # count from ALL counters, drop the non-positive. Each
                # round removes ≥ cut·(k+1) mass, so Σcut ≤ n_p/(k+1)
                # across the partition — a key with freq_p > n_p/k
                # keeps a positive net count and can never be evicted
                # (the supersetness invariant the verify pass needs).
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters.sub(cut)
                counters = counters[counters > 0]
        if len(counters):
            yield pd.DataFrame({"k": counters.index})

    candidates = (
        src_nn.mapInPandas(mg_partition, schema=src.schema).distinct()
    )
    totals = src.agg(
        F.count("*").alias("n_total"),
        F.count("k").alias("n_nonnull"),
    )
    hitters = (
        src_nn.join(F.broadcast(candidates), "k", "left_semi")
        .groupBy("k")
        .agg(F.count("*").alias("n_events"))
        .crossJoin(F.broadcast(totals))
        .filter(F.col("n_events") * k > F.col("n_total"))
        .select(F.col("k").alias(key), "n_events")
    )
    key_type = src.schema["k"].dataType.simpleString()
    null_row = (
        totals.filter((F.col("n_total") - F.col("n_nonnull")) * k > F.col("n_total"))
        .select(
            F.lit(None).cast(key_type).alias(key),
            (F.col("n_total") - F.col("n_nonnull")).alias("n_events"),
        )
    )
    return hitters.unionByName(null_row).orderBy(key)
