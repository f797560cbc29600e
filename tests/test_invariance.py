"""Result invariance under shuffle parallelism — the sampled CI lane
of tools/conf_invariance_sweep.py, whose full-registry runs at
spark.sql.shuffle.partitions=1 and =32 against the base at 8 are
recorded in PLANS.md. A distributed result must not depend on
shuffle layout: per-partition limits, first/last without a total
order, partition-local tie-breaks and Arrow batch boundaries all
break exactly here. The sample pins the query shapes most exposed to
those failure modes at shuffle.partitions = 1 vs 8 (the oracle
gate's setting)."""

from __future__ import annotations

import hashlib

import pytest

from tests.conftest import SF_DIR

# Ordering/limit/window/sampling shapes — the layout-sensitive tier.
SAMPLE = [
    "top_revenue",              # ORDER BY DESC LIMIT (TakeOrdered)
    "top_k_per_group",          # per-group truncation without global rank
    "value_ranks",              # distributed range-partitioned rank
    "ntile_histogram",          # rank-derived NTILE buckets
    "latest_event_per_user",    # row_number latest-per-key
    "token_packing",            # cumulative running arithmetic
    "rfm_segments",             # global quantile scoring
    "systematic_sample",        # seeded sampling
    "random_split_union",       # randomSplit determinism
    "histogram_domain_fill",    # domain fill join ordering
    "user_days_except_all",     # EXCEPT ALL multiplicity
    "pivot_event_counts",       # pivot column ordering
    "knn_cosine_topk",          # broadcast top-k with rounded ties
    "session_windows",          # gap-based sessionization
]


def _vhash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(
        pdf.to_csv(index=False, float_format="%.9g").encode()
    ).hexdigest()


@pytest.mark.parametrize("name", SAMPLE)
def test_shuffle_partition_invariance(spark, name):
    import __spark_entry__ as entry

    qs = entry.queries()
    assert name in qs, f"{name} left the registry — update the sample"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    hashes = {}
    try:
        for n_part in ("1", saved):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            hashes[n_part] = _vhash(qs[name](spark, SF_DIR).toPandas())
            # builders must not have clobbered the setting mid-run
            assert spark.conf.get("spark.sql.shuffle.partitions") == n_part
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert len(set(hashes.values())) == 1, hashes
