"""End-to-end differential fuzz of documents-only oracle pairs over
RANDOM corpora — the driver-contract comparison (registry build vs
registry oracle SQL, column-sorted row-sorted md5) on inputs the
fixture never produces.

Why this lane exists: the fixture's regularity makes the contract
structurally blind to whole input classes (ASCII-safe sources, no
degenerate texts, dense doc_ids). Its FIRST run caught a real gap —
parse_url's URI-strict NULL vs the string-op oracle on a source with
a space (see PLANS.md round-7). Each example writes a tiny random
corpus as a real parquet file, points the registry build at it like
any sf_dir, and runs the query's own oracle SQL over the same file in
DuckDB.

Corpus domain kept to the documented corpus contract: printable-ASCII
text with mixed whitespace (the cross-engine lower()/length()
guarantees the oracles rely on are ASCII-scoped; Unicode casing is a
separate, documented non-goal), non-negative distinct doc_ids,
arbitrary source/lang strings (sanitization is the operators' job —
that is what the first catch was about).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# round-12 suite budget: this whole module is a randomized
# exploration lane — default-skipped (see conftest), run in the
# exit gates with SPARK_GRAFT_FULL_TESTS=1.
pytestmark = pytest.mark.slow

from hypothesis import given, settings, strategies as st

from big_data_exercise_spark.plans.registry import all_queries

SPECS = all_queries()

# CI lanes are deterministic (derandomize=True, small example counts).
# Exploration runs — fresh seeds, more examples per pair — are one
# command: SPARK_GRAFT_FUZZ_EXPLORE=10 python -m pytest tests/test_oracle_fuzz.py
_EXPLORE = int(os.environ.get("SPARK_GRAFT_FUZZ_EXPLORE", "0"))


def _fuzz_settings(max_examples: int):
    if _EXPLORE:
        return settings(
            derandomize=False, max_examples=_EXPLORE, deadline=None
        )
    return settings(derandomize=True, max_examples=max_examples, deadline=None)

# documents-only oracle pairs with non-trivial cross-engine formula
# surface (tokenization, n-gram algebra, percentiles, hashing, LCG
# sampling, PII regex chains, URL construction)
FUZZED = [
    "text_quality_stats",
    "repetition_stats",
    "dedup_exact",
    "token_counts",
    "corpus_language_stats",
    "dedup_stats_by_lang",
    "doc_length_bands",
    "data_card_report",
    "clean_text_stats",
    "ngram_novelty",
    "idf_top_terms",
    "token_packing",
    "document_chunks",
    "explode_words",
    "source_mixture_sample",
    "url_parse_fields",
    "domain_corpus_rollup",
    "utf8_decode_accounting",
    # round-8: the string/regex scalar suites joined after the unicode
    # pool exposed reverse()'s grapheme-vs-codepoint divergence (fixed
    # with an unrolled codepoint reversal in the oracle); doc_id draws
    # reach below their <50/<100 filters often enough to feed them
    "string_suite",
    "regex_suite",
    # round-8 continuation: the text/NLP tier joined after its first
    # exploration run caught udtf_sentences' trim divergence (Python
    # str.strip() is Unicode-whitespace-aware, SQL trim() spaces-only
    # — 'the\t' split the engines; both now pinned to an explicit
    # ASCII-whitespace set)
    "language_id",
    "doc_sentiment_scores",
    "sentiment_distribution",
    "word_positions",
    "udtf_sentences",
    "regex_keyword_hits",
    "pii_redaction",
    "pii_corpus_summary",
    "scalar_projection",
    "prefix_edit_distances",
    "exact_jaccard_pairs",
    "ngram_jaccard_pairs",
    "containment_pairs",
]

# The dedup tier end-to-end (collapse → signatures/fingerprints →
# banding → verify → closure) over random corpora: expensive per
# example (checkpoint boundaries), so fewer examples than the scalar
# lanes — exploration scales them up via SPARK_GRAFT_FUZZ_EXPLORE.
DOC_HEAVY_FUZZED = [
    "contamination_report",
    "contamination_summary",
    "winnowing_fingerprints",
    "dedup_kept_corpus",
    "incremental_dedup_new_docs",
    "simhash_checked_near_duplicates",
    "minhash_near_duplicates",
]

# The unicode tail planted the round-8 fingerprint finding: Java's
# SpecialCasing lower() ('İstanbul' → i+combining-dot; 'ΒΟΣ ΤΑ' final
# sigma) diverged from DuckDB's simple mapping inside every
# md5(lower(…)) fingerprint — fixed with a shared İΣς→iσσ casefold
# pre-step on both engines, guarded by these words staying in the
# pool. Emoji/combining/CJK words pin codepoint-counting parity.
_WORD = st.sampled_from(
    ["the", "a", "and", "of", "alpha", "Beta", "x", "LONGWORD", "a.b,c!", "",
     "café", "naïve", "日本語", "\U0001f600\U0001f600",
     "é", "İstanbul", "straße", "Ωmega",
     "a\U0001f600b", "ΒΟΣ", "ςigma",
     # sentiment lexicon hits, PII-shaped tokens (emails/IPs/SSN/phone
     # shapes — the IP doubles as a '.'-dense sentence-split input),
     # and a period-bearing sentiment word for the splitter
     "fast", "slow.big", "bob@x.io", "1.2.3.4", "555-12-3456",
     "+1-555-1234",
     # Unicode-version-skew letters (round-8 codepoint audit): the JVM
     # lowercases these, DuckDB's utf8proc doesn't — the casefold
     # pre-step must keep absorbing them
     "𐕰iry", "ꟘᲉ"]
)
_SEP = st.sampled_from([" ", "  ", "\t", "\n", " \t\n"])
_TEXT = st.lists(st.tuples(_WORD, _SEP), min_size=0, max_size=10).map(
    lambda ps: "".join(w + s for w, s in ps)
)
_DOC = st.tuples(
    # half-weight on tiny ids so the <50/<100-filtered scalar suites
    # (string_suite, regex_suite) see non-empty corpora
    st.one_of(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=10**12),
    ),
    # NULL dirt joined round-8: the first NULL-text probe caught 10
    # divergences (legacy size(NULL)=-1 token counts, DuckDB's
    # split_part(NULL)='' phantom host, NULL-poisoned PII injection /
    # utf8 planting, and the minhash oracle missing empty-token
    # exact-dup cliques) — each fixed under the NULL ≡ empty-document
    # policy and pinned by this generator staying dirty
    st.one_of(st.none(), _TEXT),
    st.one_of(
        st.none(),
        st.sampled_from(["src0", "src7", "weird src", "", "ünïcode"]),
    ),
    st.one_of(st.none(), st.sampled_from(["en", "de", "zh", "xx", ""])),
    st.integers(min_value=0, max_value=5000),
)


def _vhash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )
    return hashlib.md5(
        pdf.to_csv(index=False, float_format="%.9g").encode()
    ).hexdigest()


def _write_corpus(rows, d: str) -> None:
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[3] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))


def _norm(pdf):
    import pandas as pd

    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            try:
                out[c] = out[c].dt.tz_localize(None)
            except TypeError:
                pass
    return out


def _compare(spark, name, sf_dir, table, path, ctx):
    spec = SPECS[name]
    got = _norm(spec.build(spark, sf_dir).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    want = _norm(con.sql(spec.oracle).df())
    con.close()
    assert sorted(got.columns) == sorted(want.columns), name
    assert len(got) == len(want), (name, len(got), len(want), ctx)
    assert _vhash(got) == _vhash(want), f"{name} diverged on {ctx}"


@pytest.mark.parametrize("name", FUZZED)
def test_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(5)
    @given(rows=st.lists(_DOC, min_size=0, max_size=10, unique_by=lambda r: r[0]))
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_corpus(rows, sf_dir)
            _compare(
                spark, name, sf_dir, "documents",
                os.path.join(sf_dir, "documents.parquet"), rows,
            )

    run()


@pytest.mark.parametrize("name", DOC_HEAVY_FUZZED)
def test_dedup_tier_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(2)
    @given(rows=st.lists(_DOC, min_size=0, max_size=8, unique_by=lambda r: r[0]))
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_corpus(rows, sf_dir)
            _compare(
                spark, name, sf_dir, "documents",
                os.path.join(sf_dir, "documents.parquet"), rows,
            )

    run()


# ---- events-table pairs ---------------------------------------------------
# Formula-dense events-only oracle pairs: window orderings, session
# boundaries, percentile bands, sweep-lines, Markov/funnel/cohort
# sequences, map HOFs, z-scores, exact-decimal aggregation. Value
# domain respects the documented numeric contract (<= 2 fractional
# digits, |v| <= 1e5 — percentile interpolation past ~1e7 17-digit
# doubles is an out-of-contract last-ulp zone); ts spans a few days at
# second granularity WITH planted equal instants (every window order
# tie-breaks on the unique event_id); props is always-valid JSON,
# sometimes without the extracted key.
EVENTS_FUZZED = [
    "time_bucket",
    "conditional_agg",
    "count_distinct_users",
    "histogram_domain_fill",
    "heavy_hitter_users",
    "user_behavior_gini",
    "user_days_except_all",
    "user_days_intersect_all",
    "json_props_stats",
    "corrupt_record_accounting",
    "conversion_funnel",
    "scd2_intervals",
    "event_transition_matrix",
    "cohort_retention",
    "common_event_paths",
    "value_ranks",
    "ntile_histogram",
    "top_k_per_group",
    "value_equiwidth_histogram",
    "anomaly_events",
    "mad_outlier_stats",
    "resample_interpolate",
    "decayed_value_by_type",
    "daily_active_windows",
    "daily_conversion_wilson",
    "session_bounce_stats",
    "seasonal_decompose_daily",
    "trailing_hour_sums",
    "running_total_per_user",
    "inter_event_gap_ms",
    "latest_event_per_user",
    "user_first_last_events",
    "activity_heatmap",
    "null_semantics_suite",
    "pivot_event_counts",
    "event_count_map_roundtrip",
    "map_hof_roundtrip",
    "top_types_with_other",
    "epoch_roundtrip",
    # round-8 continuation: the calendar/percentile/set tier joined
    # after a 63-pair exploration run under the enriched generator
    # (sub-second µs instants, 400-day span crossing the 2024 leap day
    # and the year boundary) came back clean — promoted so CI keeps
    # pinning that result
    "calendar_features",
    "value_percentiles",
    "value_percentiles_disc",
    "exact_value_quantiles",
    "value_dispersion",
    "winsorized_value_stats",
    "key_skew_report",
    "session_windows",
    "last_click_before_error",
    "prior_events_within",
    "bitwise_user_masks",
    "cube_event_stats",
    "distinct_user_type_pairs",
    "users_except",
    "users_intersect",
    "user_type_sets",
    "salted_top_revenue",
    "systematic_sample",
    "observed_rollup",
    "top_revenue",
    "json_path_extract",
    "variant_props_stats",
    "try_arithmetic",
    "latest_type_per_user_agg",
]

# 2023-11-15 + up to 400 days: crosses 2024-01-01 and the 2024-02-29
# leap day. Half-weight on whole-second instants (planted tie mass —
# every window order tie-breaks on the unique event_id), half on
# arbitrary µs offsets (sub-second truncation/bucketing parity).
_TS_BASE = 1700006400_000_000  # 2023-11-15 00:00:00 UTC, µs
_TS = st.one_of(
    st.integers(min_value=0, max_value=400 * 24 * 3600).map(
        lambda s: _TS_BASE + s * 1_000_000
    ),
    st.integers(min_value=0, max_value=400 * 24 * 3600 * 10**6).map(
        lambda u: _TS_BASE + u
    ),
)
_EVENT = st.tuples(
    st.integers(min_value=0, max_value=10**9),                      # event_id
    # NULL ts joined round-8 (batch lanes only — the streaming feed
    # fuzz keeps event time non-NULL for watermarks): the probe caught
    # the engines' opposite NULLS placement in every ts-ordered window
    # (pinned NULLS FIRST in the oracles; the one pandas-sorted
    # operator pins NULLS LAST) and session_window()'s NULL-event-time
    # DROP, which the lag-based session oracles now replay
    st.one_of(st.none(), _TS),
    st.integers(min_value=0, max_value=6),                          # user_id
    st.sampled_from(["click", "view", "purchase", "signup", "error"]),
    # NULL dirt joined round-8: the first NULL-value probe caught
    # three real contract gaps (try_divide NULL-poisoning vs the
    # positional oracle; Spark-vs-DuckDB opposite default NULL sort
    # placement in the exact-quantile and NTILE ranks) — each pinned
    st.one_of(
        st.none(),
        st.integers(min_value=-(10**7), max_value=10**7).map(lambda n: n / 100),
        st.sampled_from([0.0, 100.0, 150.0, 150.0]),                # tie mass
    ),
    st.one_of(
        st.none(),
        st.sampled_from(['{"k": 87}', '{"k": 0}', '{"k": -3}', "{}"]),
    ),
)


def _write_events(rows, d: str) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))


@pytest.mark.parametrize("name", EVENTS_FUZZED)
def test_events_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(4)
    @given(
        rows=st.lists(_EVENT, min_size=0, max_size=14, unique_by=lambda r: r[0])
    )
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_events(rows, sf_dir)
            _compare(
                spark, name, sf_dir, "events",
                os.path.join(sf_dir, "events.parquet"), rows,
            )

    run()


# ---- lineitem / orders pairs ----------------------------------------------
# Single-table TPC-H-shaped pairs: exact-decimal multi-aggregates,
# grouping sets, regression moments, distributed ranks and the
# integer-cents ABC sweep. Money domain per the numeric contract.
LINEITEM_FUZZED = [
    "pricing_summary",
    "forecast_revenue",
    "rollup_pricing",
    "grouping_sets_pricing",
    "melt_pricing",
    "regression_by_flag",
]
ORDERS_FUZZED = [
    "monthly_revenue_change",
    "rfm_segments",
    "abc_revenue_classes",
    "date_math_suite",
]

_MONEY = st.integers(min_value=0, max_value=10**7).map(lambda n: n / 100)
_FRAC = st.integers(min_value=0, max_value=10).map(lambda n: n / 100)
_DATE = st.integers(min_value=0, max_value=900).map(
    lambda d: 820454400_000_000 + d * 86_400_000_000  # 1996-01-01 + d days
)


def _n(strat):
    """NULL dirt on non-key columns (round-8): the first NULL probe
    over the TPC-H tier caught six real gaps — presence tests abusing
    NULLable balances, a non-null-safe group-key merge join, NULL FKs
    counted as orphans, opposite NULLS placement in the rfm quartile
    ranks and the skyline running max, and the incremental-SUM NULL
    convention — each fixed and pinned by these generators staying
    dirty. Keys stay non-NULL (PK contract)."""
    return st.one_of(st.none(), strat)


_LINEITEM = st.tuples(
    st.integers(min_value=0, max_value=10**6),   # l_orderkey
    _n(st.integers(min_value=1, max_value=50)),  # l_partkey
    _n(st.integers(min_value=1, max_value=20)),  # l_suppkey
    st.integers(min_value=1, max_value=7),       # l_linenumber
    _n(st.integers(min_value=1, max_value=50).map(float)),  # l_quantity
    _n(_MONEY),                                  # l_extendedprice
    _n(_FRAC),                                   # l_discount
    _n(_FRAC),                                   # l_tax
    _n(st.sampled_from(["A", "N", "R"])),
    _n(st.sampled_from(["F", "O"])),
    _n(_DATE),                                   # l_shipdate
)
_ORDER = st.tuples(
    st.integers(min_value=0, max_value=10**6),   # o_orderkey
    _n(st.integers(min_value=1, max_value=9)),   # o_custkey
    _n(st.sampled_from(["F", "O", "P"])),
    _n(_MONEY),                                  # o_totalprice
    _n(_DATE),                                   # o_orderdate
    _n(st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"])),
)


def _write_table(name, cols, rows, d: str) -> None:
    arrays = {}
    for i, (col, typ) in enumerate(cols):
        vals = [r[i] for r in rows]
        arrays[col] = pa.array(vals, typ)
    pq.write_table(pa.table(arrays), os.path.join(d, f"{name}.parquet"))


_LI_COLS = [
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
]
_ORD_COLS = [
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
]


@pytest.mark.parametrize("name", LINEITEM_FUZZED)
def test_lineitem_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(4)
    @given(rows=st.lists(_LINEITEM, min_size=0, max_size=14))
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_table("lineitem", _LI_COLS, rows, sf_dir)
            _compare(
                spark, name, sf_dir, "lineitem",
                os.path.join(sf_dir, "lineitem.parquet"), rows,
            )

    run()


@pytest.mark.parametrize("name", ORDERS_FUZZED)
def test_orders_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(4)
    @given(
        rows=st.lists(_ORDER, min_size=0, max_size=14, unique_by=lambda r: r[0])
    )
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_table("orders", _ORD_COLS, rows, sf_dir)
            _compare(
                spark, name, sf_dir, "orders",
                os.path.join(sf_dir, "orders.parquet"), rows,
            )

    run()


# ---- embeddings pairs -------------------------------------------------------
# Array-math pairs over random float32 vectors, including the
# documented dirty-row degradations: an occasional SHORT (dim-63)
# vector must NULL-degrade per row, never kill the job. Component
# values are small dyadics (n/256) — exactly representable in float32,
# so the f32 -> f64 widening both engines perform is bit-identical.
EMBEDDINGS_FUZZED = [
    "embedding_stats",
    "embedding_predicates",
    "embedding_quantization",
    "knn_cosine_topk",
]

_COMPONENT = st.integers(min_value=-512, max_value=512).map(lambda n: n / 256)
_VEC = st.one_of(
    st.lists(_COMPONENT, min_size=64, max_size=64),
    st.lists(_COMPONENT, min_size=63, max_size=63),  # ragged: per-row degrade
    st.just([0.0] * 64),  # zero norm: 0/0 is NULL both sides (NULLIF oracle)
    # whole-NULL embedding (round-8): caught legacy size(NULL) = -1 in
    # embedding_predicates' n_positive where the oracle says NULL
    st.none(),
)
# Dirty-element universe for the cosine pairs specifically: full-length
# vectors carrying a NULL element (the Spark fold NULL-poisons where
# DuckDB's list_sum would silently skip — the round-8 _cos_sql ok-guard
# closes exactly this asymmetry) and whole-NULL embeddings.
_VEC_DIRTY = st.one_of(
    _VEC,
    st.none(),
    st.tuples(
        st.lists(_COMPONENT, min_size=64, max_size=64),
        st.integers(min_value=0, max_value=63),
    ).map(lambda t: t[0][: t[1]] + [None] + t[0][t[1] + 1 :]),
)
_EMB_DIRTY = st.tuples(
    st.integers(min_value=0, max_value=10**6),
    _VEC_DIRTY,
    st.integers(min_value=0, max_value=9),
)
_EMB = st.tuples(
    st.integers(min_value=0, max_value=10**6),
    _VEC,
    st.integers(min_value=0, max_value=9),
)

_EMB_COLS = [
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
]


# ---- multi-table JOIN pairs -------------------------------------------------
# Join-shaped pairs over COORDINATED random tables: order/customer/user
# keys drawn from small overlapping pools so every example contains
# matches, misses, orphans and childless parents at once — the cases a
# regular fixture distributes thinly. One sf_dir carries all four
# tables; the oracle runs over the identical files.
JOIN_FUZZED = [
    "order_revenue_by_priority",      # orders ⋈ lineitem sort-merge
    "customers_with_orders",          # LEFT SEMI
    "customer_order_distribution",    # Q13 outer-join distribution
    "fulfillment_lag_stats",          # SLA lag percentiles over a join
    "large_volume_customers",         # Q18 3-table having-join
    "user_segment_coverage",          # events ⋈ customer enrichment
    "cogrouped_user_orders",          # two-sided grouped map
    "snapshot_diff",                  # full-outer reconciliation
    "incremental_agg_refresh",        # MV delta identity
    "incremental_join_refresh",       # MV join delta rule
    "referential_integrity_audit",    # anti-join orphan audit
    "udaf_cents_by_type",             # pandas UDAF over events
    "applyinpandas_user_sequence",    # grouped-map over events
]

_SMALL_ORDER = st.tuples(
    st.integers(min_value=0, max_value=12),      # o_orderkey — SMALL pool
    _n(st.integers(min_value=0, max_value=9)),   # o_custkey
    _n(st.sampled_from(["F", "O", "P"])),
    _n(_MONEY),
    _n(_DATE),
    _n(st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"])),
)
_SMALL_LINE = st.tuples(
    st.integers(min_value=0, max_value=12),      # l_orderkey — SMALL pool
    _n(st.integers(min_value=1, max_value=50)),
    _n(st.integers(min_value=1, max_value=20)),
    st.integers(min_value=1, max_value=7),
    _n(st.integers(min_value=1, max_value=50).map(float)),
    _n(_MONEY),
    _n(_FRAC),
    _n(_FRAC),
    _n(st.sampled_from(["A", "N", "R"])),
    _n(st.sampled_from(["F", "O"])),
    _n(_DATE),
)
_CUSTOMER = st.tuples(
    st.integers(min_value=0, max_value=9),       # c_custkey
    _n(st.sampled_from(["Customer#1", "Customer#2", ""])),
    _n(st.integers(min_value=0, max_value=24)),  # c_nationkey
    _n(_MONEY),                                  # c_acctbal
    _n(st.sampled_from(["BUILDING", "MACHINERY", "AUTOMOBILE"])),
)
_CUST_COLS = [
    ("c_custkey", pa.int64()), ("c_name", pa.string()),
    ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
    ("c_mktsegment", pa.string()),
]


@pytest.mark.parametrize("name", JOIN_FUZZED)
def test_join_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(4)
    @given(
        orders=st.lists(
            _SMALL_ORDER, min_size=0, max_size=8, unique_by=lambda r: r[0]
        ),
        lineitem=st.lists(_SMALL_LINE, min_size=0, max_size=12),
        customer=st.lists(
            _CUSTOMER, min_size=0, max_size=6, unique_by=lambda r: r[0]
        ),
        events=st.lists(
            _EVENT, min_size=0, max_size=10, unique_by=lambda r: r[0]
        ),
    )
    def run(orders, lineitem, customer, events):
        with tempfile.TemporaryDirectory() as sf_dir:
            for tname, cols, rows in (
                ("orders", _ORD_COLS, orders),
                ("lineitem", _LI_COLS, lineitem),
                ("customer", _CUST_COLS, customer),
            ):
                pq.write_table(
                    pa.table(
                        {c: pa.array([r[i] for r in rows], t)
                         for i, (c, t) in enumerate(cols)}
                    ),
                    os.path.join(sf_dir, f"{tname}.parquet"),
                )
            ev_tbl = pa.table(
                {
                    "event_id": pa.array([r[0] for r in events], pa.int64()),
                    "ts": pa.array([r[1] for r in events], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in events], pa.int64()),
                    "event_type": pa.array([r[3] for r in events], pa.string()),
                    "value": pa.array([r[4] for r in events], pa.float64()),
                    "props": pa.array([r[5] for r in events], pa.string()),
                }
            )
            pq.write_table(ev_tbl, os.path.join(sf_dir, "events.parquet"))

            spec = SPECS[name]
            got = _norm(spec.build(spark, sf_dir).toPandas())
            con = duckdb.connect()
            for t in ("orders", "lineitem", "customer", "events"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'"
                )
            want = _norm(con.sql(spec.oracle).df())
            con.close()
            ctx = {"orders": orders, "lineitem": lineitem,
                   "customer": customer, "events": events}
            assert sorted(got.columns) == sorted(want.columns), name
            assert len(got) == len(want), (name, len(got), len(want), ctx)
            assert _vhash(got) == _vhash(want), f"{name} diverged on {ctx}"

    run()


def test_ri_audit_null_pk_empty_child_corner(spark, tmp_path):
    """Directed pin of the referential_integrity_audit childless-check
    NULL guard (round-8 advice item): a NULL o_orderkey order over an
    EMPTY lineitem. Without the symmetric IS NOT NULL on both sides
    the engines split exactly here — SQL's NOT IN over an EMPTY
    subquery is TRUE even for a NULL probe (no comparison ever
    evaluates), so an unguarded oracle counts the NULL-key order as
    childless while a NULL-filtered Spark side drops it. The fuzz
    generator can't reach this (o_orderkey is its unique_by key,
    drawn non-NULL), hence the directed lane."""
    sf_dir = str(tmp_path)
    orders = [
        (None, 1, "F", 10.0, None, "2-HIGH"),
        (7, None, "O", 20.0, None, "1-URGENT"),
    ]
    pq.write_table(
        pa.table(
            {c: pa.array([r[i] for r in orders], t)
             for i, (c, t) in enumerate(_ORD_COLS)}
        ),
        os.path.join(sf_dir, "orders.parquet"),
    )
    pq.write_table(
        pa.table({c: pa.array([], t) for c, t in _LI_COLS}),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({c: pa.array([], t) for c, t in _CUST_COLS}),
        os.path.join(sf_dir, "customer.parquet"),
    )
    spec = SPECS["referential_integrity_audit"]
    got = _norm(spec.build(spark, sf_dir).toPandas())
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t + '.parquet')}'"
        )
    want = _norm(con.sql(spec.oracle).df())
    con.close()
    assert _vhash(got) == _vhash(want)
    # the NULL-key order is absent, not childless: exactly 1 childless
    childless = got[got["relationship"] == "orders-without-lineitems"]
    assert int(childless["n_orphans"].iloc[0]) == 1


@pytest.mark.parametrize("name", EMBEDDINGS_FUZZED)
def test_embeddings_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(4)
    @given(
        rows=st.lists(_EMB, min_size=0, max_size=10, unique_by=lambda r: r[0])
    )
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_table("embeddings", _EMB_COLS, rows, sf_dir)
            _compare(
                spark, name, sf_dir, "embeddings",
                os.path.join(sf_dir, "embeddings.parquet"), rows,
            )

    run()


# The iterative similarity pairs (kmeans / PQ) join the fuzz program
# with a RESTRICTED component universe: v ∈ [-1, 1] keeps every
# fixed-point coordinate q = floor((v+1)·1e6) non-negative, which is
# the documented precondition under which Spark's truncating DIV and
# DuckDB's flooring // agree in the centroid update (components in
# [-2, 2] would fuzz THAT engine asymmetry, not the kernels). Ragged
# 63-dim rows, the zero vector and whole-NULL embeddings stay in the
# pool — the round-12 point of this lane: pq_topk runs the
# broadcast-codebook Arrow kernel and kmeans_clusters the relational
# assign, so every example compares each against the unrolled
# relational oracle over corpora where partial-dim assignment
# actually happens.
ITERATIVE_EMB_FUZZED = ["kmeans_clusters", "pq_topk"]

_COMPONENT_UNIT = st.integers(min_value=-256, max_value=256).map(
    lambda n: n / 256
)
_VEC_UNIT = st.one_of(
    st.lists(_COMPONENT_UNIT, min_size=64, max_size=64),
    st.lists(_COMPONENT_UNIT, min_size=63, max_size=63),  # ragged
    st.just([0.0] * 64),
    st.none(),
)
_EMB_UNIT = st.tuples(
    # small id pool so the PQ query set (vid < 8) is usually inhabited
    st.integers(min_value=0, max_value=40),
    _VEC_UNIT,
    st.integers(min_value=0, max_value=9),
)


@pytest.mark.parametrize("name", ITERATIVE_EMB_FUZZED)
def test_iterative_embeddings_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(3)
    @given(
        rows=st.lists(
            _EMB_UNIT, min_size=0, max_size=10, unique_by=lambda r: r[0]
        )
    )
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_table("embeddings", _EMB_COLS, rows, sf_dir)
            _compare(
                spark, name, sf_dir, "embeddings",
                os.path.join(sf_dir, "embeddings.parquet"), rows,
            )

    run()


def test_cosine_oracle_dirty_vectors(spark):
    """knn_cosine_topk over NULL-ELEMENT, whole-NULL and zero-norm
    vectors: the Spark fixed-dim fold NULL-poisons on any NULL term,
    so the _cos_sql ok-guard must NULL the oracle's cosine for the
    same rows (DuckDB's list_sum would otherwise skip the NULL
    product and emit a value — the round-8 advice asymmetry). The
    query vector (vec_id 0) itself draws from the dirty universe, so
    the all-rows-NULL degradation is exercised too."""

    @_fuzz_settings(6)
    @given(
        rows=st.lists(
            _EMB_DIRTY, min_size=0, max_size=10, unique_by=lambda r: r[0]
        )
    )
    def run(rows):
        with tempfile.TemporaryDirectory() as sf_dir:
            _write_table("embeddings", _EMB_COLS, rows, sf_dir)
            _compare(
                spark, "knn_cosine_topk", sf_dir, "embeddings",
                os.path.join(sf_dir, "embeddings.parquet"), rows,
            )

    run()

# ---- TPC-H dimension-family pairs ------------------------------------------
# The Q-family queries (scalar-subquery decorrelations, market-share
# arms, EXISTS/NOT-EXISTS pairs, LATERAL top-n, Pareto scans, the
# nation tree) over COORDINATED random dim+fact tables. Dims are
# random SUBSETS of the canonical domains (region names / NATION_k
# mapping stay canonical because the queries filter on those literals
# and join through the keys), so every example mixes hit, miss,
# dangling-FK and absent-dim cases; facts reuse the join lane's
# overlapping-pool strategies. One sf_dir carries all eight tables;
# the oracle runs over the identical files.
TPCH_FUZZED = [
    "regional_customers",        # two-hop dim broadcast join
    "local_supplier_volume",     # Q5 six-table arm
    "nation_market_share",       # Q8 market-share CASE aggregation
    "nation_trade_volume",       # Q7 directed nation pairs
    "product_type_profit",       # Q9 profit rollup, %red% LIKE
    "important_parts",           # Q11 global-scalar HAVING
    "min_cost_part_supplier",    # Q2 per-part min-cost decorrelation
    "top_supplier",              # Q15 global-max scalar subquery
    "waiting_suppliers",         # Q21 EXISTS/NOT-EXISTS decorrelation
    "returned_item_report",      # Q10 returned-flag rollup
    "shipping_priority",         # Q3 segment filter + date windows
    "promo_revenue_pct",         # Q14 conditional-share percent
    "part_promotion_suppliers",  # Q20 quantity-threshold semi-join
    "supplier_variety",          # distinct-part-count per supplier
    "supplier_cooccurrence",     # basket pair join (a-priori prune)
    "supplier_triangles",        # triangle enumeration
    "fuzzy_supplier_matches",    # edit-distance-1 name blocking
    "small_quantity_revenue",    # Q17 avg-quantity scalar per part
    "late_order_priority",       # Q12 two-date lateness CASE
    "priority_flag_counts",      # Q4 EXISTS-decorrelated counts
    "dormant_rich_customers",    # Q22 anti-join over events
    "pareto_frontier_parts",     # dominance self-join
    "lateral_top_orders",        # LATERAL top-n per customer
    "recursive_tree_depth",      # iterative nation-tree closure
    "bracket_revenue",           # Q19 bracket OR-of-ANDs
]

_REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_REGION = st.lists(
    st.integers(min_value=0, max_value=4), min_size=0, max_size=5, unique=True
).map(lambda ks: [(k, _REGION_NAMES[k]) for k in ks])
_NATION = st.lists(
    st.integers(min_value=0, max_value=24), min_size=0, max_size=25, unique=True
).map(lambda ks: [(k, f"NATION_{k}", k % 5) for k in ks])
# Near-identical name pool drives fuzzy_supplier_matches' ED-1
# blocking; nationkey range 0..26 plants dangling FKs past nation's
# 0..24 domain.
_SUPP_NAME = st.sampled_from(
    ["Supplier#000000001", "Supplier#000000002", "Supplier#00000000l",
     "Supplier#0000000012", "upplier#000000001", "ACME Corp", "ACME Corp.",
     "ACME  Corp", ""]
)
_SUPPLIER = st.tuples(
    st.integers(min_value=0, max_value=20),      # s_suppkey — l_suppkey pool
    _n(_SUPP_NAME),
    _n(st.integers(min_value=0, max_value=26)),  # s_nationkey, some dangling
    _n(_MONEY),
)
_PART_NAME = st.sampled_from(
    ["small widget", "red rod", "dark red anvil", "blue ring", "new bolt",
     "small red cog", "hot rod", "cold anvil"]
)
_PART = st.tuples(
    st.integers(min_value=1, max_value=50),      # p_partkey — l_partkey pool
    _n(_PART_NAME),
    _n(st.sampled_from(["Brand#1", "Brand#13", "Brand#23", "Brand#9"])),
    _n(st.sampled_from(["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE"])),
    _n(st.integers(min_value=1, max_value=50)),  # p_size
    _n(_MONEY),                                  # p_retailprice
)

_REG_COLS = [("r_regionkey", pa.int32()), ("r_name", pa.string())]
_NAT_COLS = [
    ("n_nationkey", pa.int32()), ("n_name", pa.string()),
    ("n_regionkey", pa.int32()),
]
_SUP_COLS = [
    ("s_suppkey", pa.int64()), ("s_name", pa.string()),
    ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
]
_PART_COLS = [
    ("p_partkey", pa.int64()), ("p_name", pa.string()),
    ("p_brand", pa.string()), ("p_type", pa.string()),
    ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
]

_TPCH_TABLES = (
    ("region", _REG_COLS), ("nation", _NAT_COLS), ("supplier", _SUP_COLS),
    ("part", _PART_COLS), ("customer", _CUST_COLS), ("orders", _ORD_COLS),
    ("lineitem", _LI_COLS),
)


@pytest.mark.parametrize("name", TPCH_FUZZED)
def test_tpch_oracle_pair_random_corpus(spark, name):
    @_fuzz_settings(3)
    @given(
        region=_REGION,
        nation=_NATION,
        supplier=st.lists(
            _SUPPLIER, min_size=0, max_size=8, unique_by=lambda r: r[0]
        ),
        part=st.lists(_PART, min_size=0, max_size=10, unique_by=lambda r: r[0]),
        customer=st.lists(
            _CUSTOMER, min_size=0, max_size=6, unique_by=lambda r: r[0]
        ),
        orders=st.lists(
            _SMALL_ORDER, min_size=0, max_size=8, unique_by=lambda r: r[0]
        ),
        lineitem=st.lists(_SMALL_LINE, min_size=0, max_size=12),
        events=st.lists(
            _EVENT, min_size=0, max_size=10, unique_by=lambda r: r[0]
        ),
    )
    def run(region, nation, supplier, part, customer, orders, lineitem, events):
        tables = dict(zip(
            ("region", "nation", "supplier", "part", "customer", "orders",
             "lineitem"),
            (region, nation, supplier, part, customer, orders, lineitem),
        ))
        with tempfile.TemporaryDirectory() as sf_dir:
            for tname, cols in _TPCH_TABLES:
                rows = tables[tname]
                pq.write_table(
                    pa.table(
                        {c: pa.array([r[i] for r in rows], t)
                         for i, (c, t) in enumerate(cols)}
                    ),
                    os.path.join(sf_dir, f"{tname}.parquet"),
                )
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array([r[0] for r in events], pa.int64()),
                        "ts": pa.array([r[1] for r in events], pa.timestamp("us")),
                        "user_id": pa.array([r[2] for r in events], pa.int64()),
                        "event_type": pa.array(
                            [r[3] for r in events], pa.string()
                        ),
                        "value": pa.array([r[4] for r in events], pa.float64()),
                        "props": pa.array([r[5] for r in events], pa.string()),
                    }
                ),
                os.path.join(sf_dir, "events.parquet"),
            )

            spec = SPECS[name]
            got = _norm(spec.build(spark, sf_dir).toPandas())
            con = duckdb.connect()
            for t, _ in _TPCH_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'"
                )
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"'{os.path.join(sf_dir, 'events.parquet')}'"
            )
            want = _norm(con.sql(spec.oracle).df())
            con.close()
            ctx = {k: v for k, v in tables.items()}
            ctx["events"] = events
            assert sorted(got.columns) == sorted(want.columns), name
            assert len(got) == len(want), (name, len(got), len(want), ctx)
            assert _vhash(got) == _vhash(want), f"{name} diverged on {ctx}"

    run()


def test_casefold_skew_chars_fingerprint_parity(spark, tmp_path):
    """Directed: every codepoint in the casefold tables (SpecialCasing
    trio + the 70 Unicode-version-skew letters the round-8
    full-codepoint audit found — JVM lowers them, DuckDB's utf8proc
    doesn't) through the fingerprint/token pipeline, one doc per char.
    Pins the translate pre-step on BOTH engines; if either engine's
    Unicode tables move again, this is the test that catches it."""
    from big_data_exercise_spark.functions.text import CASEFOLD_SRC

    rows = [
        (i, f"x {ch}y", "src0", "en", 3)
        for i, ch in enumerate(CASEFOLD_SRC)
    ]
    sf_dir = str(tmp_path)
    _write_corpus(rows, sf_dir)
    for name in ("token_counts", "dedup_exact", "dedup_stats_by_lang"):
        _compare(
            spark, name, sf_dir, "documents",
            os.path.join(sf_dir, "documents.parquet"), "casefold-skew",
        )
