"""Registry of named queries: Spark builder + DuckDB oracle SQL.

Every SQL-expressible operator from SURVEY.md §2 (and every
training-data extension) appears here twice: once as an idiomatic
DataFrame build and once as ANSI SQL for the DuckDB oracle. Column
names and types are aligned pairwise (the driver's compare sorts
columns by name and hashes values).

Determinism rules (SURVEY.md §7.3):
* session timezone pinned to UTC before building any plan;
* double aggregates rounded at the edge (2-4 decimals);
* every LIMIT has a total deterministic ORDER BY (value, then keys);
* integer-type width mismatches resolved by explicit CASTs in the
  oracle (DuckDB's len()/row_number()/SUM(int) default to
  BIGINT/HUGEINT where Spark produces int/long).
* oracle float math mirrors Spark's: cast float32 → double before
  any fold, same accumulation order.

Queries whose Spark implementation is NOT SQL-expressible (xxhash64
SimHash, heuristic language-ID, streaming-internal plumbing) carry
``oracle=None`` → the driver records a rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from big_data_exercise_spark.session import scratch_dir, tune_session
from big_data_exercise_spark.tables import load_table, register_views
from big_data_exercise_spark.operators import (
    aggregations as agg,
    bucketing,
    frequency,
    graph,
    observe,
    joins,
    layout,
    reshape,
    sampling,
    scalars,
    sequences,
    sets,
    skew,
    timeseries,
    windows,
)
from big_data_exercise_spark.functions import (
    arrays, bpe, grouped, pii, sentiment, text, urls,
)
from big_data_exercise_spark.functions.text import (
    CASEFOLD_DST as _CF_DST,
    CASEFOLD_SRC as _CF_SRC,
)
from big_data_exercise_spark.functions.numeric import (
    avg_sql,
    exact_sum,
    round_det_sql,
    sum_sql,
)
from big_data_exercise_spark.dedup import exact as dedup_exact_mod
from big_data_exercise_spark.dedup import (
    cluster, contamination, minhash, ngram, simhash, ssjoin, winnow,
)
from big_data_exercise_spark.similarity import kmeans, knn, lsh, pq
from big_data_exercise_spark.multimodal import audio, codecs, detections
from big_data_exercise_spark.sources import (
    csvio, encoding, jdbcio, jsonio, orcio, pydatasource, textio,
)
from big_data_exercise_spark.streaming import pipelines as streams

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_DOMAIN = EVENT_TYPES + ["refund"]  # 'refund' never occurs → fill 0


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    description: str = ""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


def _on_docs(op, feed):
    """Build ``op(docs, feed(docs))`` over ONE load of the documents
    table — each load runs its own parquet schema-inference job."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        return op(docs, feed(docs))
    return build


# ---------------------------------------------------------------- helpers
def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB cosine between two list<float> expressions, mirroring
    functions.arrays.cosine exactly: per-element cast to DOUBLE, then
    an in-order sum (list_sum folds sequentially, as F.aggregate
    does) — over the FIXED corpus dimension, with the same dim-strict
    NULL degradation as the Spark chain. Without the length guard,
    DuckDB's list_zip pads a short vector with NULL and list_sum
    SKIPS the NULL term — silently truncating where the Spark
    try_element_at chain NULL-poisons the whole cosine (the
    documented dirty-row contract; random-corpus fuzz finding,
    round 7). The same asymmetry applies to a NULL ELEMENT inside a
    full-length vector — list_sum skips the NULL product where the
    Spark fold NULL-poisons — so the ok-guard also requires every
    element in the sliced window to be non-NULL (round-8 advice)."""
    ok = (
        f"(len({a}) >= {dim} AND len({b}) >= {dim}"
        f" AND len(list_filter({a}[1:{dim}], x -> x IS NULL)) = 0"
        f" AND len(list_filter({b}[1:{dim}], x -> x IS NULL)) = 0)"
    )
    sa, sb = f"{a}[1:{dim}]", f"{b}[1:{dim}]"
    dot = (
        f"list_sum(list_transform(list_zip({sa}, {sb}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    na = f"sqrt(list_sum(list_transform({sa}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({sb}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    # NULLIF: a zero-norm vector divides 0/0 — NULL in Spark's
    # non-ANSI Divide but IEEE NaN in DuckDB, and the two sort to
    # OPPOSITE ends of a DESC LIMIT (NaN first, NULL last)
    return (
        f"(CASE WHEN {ok} THEN ({dot} / NULLIF({na} * {nb}, 0)) "
        "ELSE NULL END)"
    )


# COALESCE mirrors functions.text.tokens/fingerprint: NULL text is an
# empty document (Spark's legacy size(NULL) = -1 vs DuckDB len(NULL) =
# NULL otherwise splits every token count; round-8 NULL-dirt finding).
_TOKS = (r"list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),"
         r" t -> t <> '')")
# Casefold pre-step mirrors functions.text.fingerprint: Java's
# SpecialCasing lower (İ → i+U+0307, final sigma) vs DuckDB's simple
# mapping diverge without it (round-8 unicode fuzz finding).
# Casefold tables (_CF_SRC/_CF_DST, imported at module top from
# functions.text): SpecialCasing trio + the 70 Unicode-version-skew
# letters (round-8 full-codepoint audit).
_FP = ("md5(lower(trim(regexp_replace("
       f"translate(COALESCE(text, ''), '{_CF_SRC}', '{_CF_DST}'),"
       " '\\s+', ' ', 'g'))))")

# MinHash+LSH pair pipeline as DuckDB CTEs (vocab-rank token ids so
# both engines agree bit-for-bit). Shared by minhash_near_duplicates
# and the dedup_cluster_assignment closure so the pair set can't drift
# between the two oracles.
_MINHASH_CTES = f"""toks AS (
          SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents),
        vocab AS (
          SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS tok_id
          FROM (SELECT DISTINCT tok FROM toks) v),
        tt AS (SELECT doc_id, tok_id FROM toks JOIN vocab USING (tok)),
        sigs AS (
          SELECT doc_id,
                 MIN((3*tok_id+1)%8191)    AS h0,  MIN((5*tok_id+2)%8191)    AS h1,
                 MIN((7*tok_id+4)%8191)    AS h2,  MIN((11*tok_id+8)%8191)   AS h3,
                 MIN((13*tok_id+16)%8191)  AS h4,  MIN((17*tok_id+32)%8191)  AS h5,
                 MIN((19*tok_id+64)%8191)  AS h6,  MIN((23*tok_id+128)%8191) AS h7,
                 MIN((29*tok_id+256)%8191) AS h8,  MIN((31*tok_id+512)%8191) AS h9,
                 MIN((37*tok_id+1024)%8191) AS h10, MIN((41*tok_id+2048)%8191) AS h11
          FROM tt GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, concat_ws('_', h0, h1, h2, h3) AS sig FROM sigs
          UNION ALL
          SELECT doc_id, 1, concat_ws('_', h4, h5, h6, h7) FROM sigs
          UNION ALL
          SELECT doc_id, 2, concat_ws('_', h8, h9, h10, h11) FROM sigs),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                                   AND a.doc_id < b.doc_id),
        isz AS (
          SELECT c.id1, c.id2, COUNT(*) AS n
          FROM cand c
          JOIN tt t1 ON t1.doc_id = c.id1
          JOIN tt t2 ON t2.doc_id = c.id2 AND t2.tok_id = t1.tok_id
          GROUP BY c.id1, c.id2),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tt GROUP BY doc_id),
        empties AS (
          -- zero-token docs never reach the LSH replay (no tt rows)
          -- but ARE exact duplicates of each other: all-whitespace or
          -- NULL text normalizes to the same fingerprint, and the
          -- operator's exact-dup collapse reports every intra-cluster
          -- pair at jaccard 1.0 (round-8 NULL/empty-dirt fuzz finding)
          SELECT doc_id FROM documents
          WHERE len({_TOKS}) = 0)"""
_MINHASH_PAIRS = """SELECT id1, id2,
               (CAST(CASE WHEN (n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 >= 0 THEN FLOOR((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 + 0.5) ELSE CEIL((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 - 0.5) END AS DOUBLE) / 10000.0) AS jaccard
        FROM isz
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE (CAST(CASE WHEN (n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 >= 0 THEN FLOOR((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 + 0.5) ELSE CEIL((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 - 0.5) END AS DOUBLE) / 10000.0) >= 0.8
        UNION ALL
        SELECT a.doc_id AS id1, b.doc_id AS id2, 1.0 AS jaccard
        FROM empties a JOIN empties b ON a.doc_id < b.doc_id"""


# ---------------------------------------------------------------- specs
def _specs() -> list[QuerySpec]:
    s: list[QuerySpec] = []

    # ---- aggregations (SURVEY §2.3) ------------------------------------
    s.append(QuerySpec(
        "pricing_summary",
        lambda sp, d: agg.pricing_summary(_t(sp, d, "lineitem")),
        f"""
        SELECT l_returnflag, l_linestatus,
               {sum_sql("l_quantity", "sum_qty")},
               {sum_sql("l_extendedprice", "sum_base_price")},
               {sum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               {sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
               {avg_sql("l_quantity", "avg_qty")},
               {avg_sql("l_extendedprice", "avg_price")},
               {avg_sql("l_discount", "avg_disc", 4)},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        ("agg", "flagship"),
        "TPC-H Q1-shaped multi-aggregate (reference A1/A2 pattern)",
    ))
    s.append(QuerySpec(
        "top_revenue",
        lambda sp, d: agg.top_revenue(_t(sp, d, "events")),
        f"""
        SELECT user_id, event_type, {sum_sql("value", "total_value")}
        FROM events GROUP BY user_id, event_type
        ORDER BY total_value DESC, user_id, event_type LIMIT 50
        """,
        ("agg", "topk"),
        "grouped SUM + ORDER BY DESC LIMIT (vehicle_counting_app.py:38-47)",
    ))
    s.append(QuerySpec(
        "conditional_agg",
        lambda sp, d: agg.conditional_agg(_t(sp, d, "events")),
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
               {avg_sql("value", "avg_value")},
               {round_det_sql("MAX(value)")} AS max_value,
               {round_det_sql("MIN(value)")} AS min_value
        FROM events GROUP BY event_type
        """,
        ("agg",),
        "multi-agg with SUM(CASE WHEN) (fire_detection_app.py:64-74)",
    ))
    s.append(QuerySpec(
        "time_bucket",
        lambda sp, d: agg.time_bucket(_t(sp, d, "events")),
        f"""
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               COUNT(*) AS n_events, {avg_sql("value", "avg_value")},
               {sum_sql("value", "sum_value")}
        FROM events GROUP BY 1, 2
        """,
        ("agg", "time"),
        "tumbling time-bucket agg (fire_detection_app.py:91-102)",
    ))
    s.append(QuerySpec(
        "count_distinct_users",
        lambda sp, d: agg.count_distinct_users(_t(sp, d, "events")),
        """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
        """,
        ("agg",),
        "COUNT DISTINCT per group (vehicle_counting_app.py:113-114)",
    ))
    s.append(QuerySpec(
        "histogram_domain_fill",
        lambda sp, d: agg.histogram_with_domain(_t(sp, d, "events"), EVENT_DOMAIN),
        f"""
        WITH domain(event_type) AS (
          VALUES ('click'), ('view'), ('purchase'), ('signup'), ('error'), ('refund')),
        counts AS (
          SELECT event_type, COUNT(*) AS n, {sum_sql("value", "total_value")}
          FROM events GROUP BY event_type)
        SELECT d.event_type, COALESCE(c.n, 0) AS n,
               COALESCE(c.total_value, 0.0) AS total_value
        FROM domain d LEFT JOIN counts c USING (event_type)
        """,
        ("agg",),
        "value histogram with domain fill (streamlit_app.py:76-81)",
    ))

    s.append(QuerySpec(
        "rollup_pricing",
        lambda sp, d: agg.rollup_pricing(_t(sp, d, "lineitem")),
        f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               {sum_sql("l_quantity", "sum_qty")},
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        -- Spark emits NO rows for ROLLUP/CUBE/GROUPING SETS over an
        -- empty relation, dropping the SQL-standard grand-total row
        -- of the () grouping set (which DuckDB emits). No grouping-
        -- set row over a non-empty input can have COUNT(*) = 0, so
        -- this HAVING replays Spark's behavior exactly on every
        -- input (round-8 empty-table probe finding).
        HAVING COUNT(*) > 0
        """,
        ("agg", "rollup"),
        "ROLLUP subtotals + grouping_id (declared gap, SURVEY §2.3)",
    ))
    s.append(QuerySpec(
        "cube_event_stats",
        lambda sp, d: agg.cube_event_stats(_t(sp, d, "events")),
        f"""
        SELECT event_type, date_trunc('day', ts) AS day,
               COUNT(*) AS n_events, {sum_sql("value", "total_value")},
               CAST(GROUPING(event_type, date_trunc('day', ts)) AS INTEGER) AS gid
        FROM events
        GROUP BY CUBE (event_type, date_trunc('day', ts))
        -- Spark emits NO rows for ROLLUP/CUBE/GROUPING SETS over an
        -- empty relation, dropping the SQL-standard grand-total row
        -- of the () grouping set (which DuckDB emits). No grouping-
        -- set row over a non-empty input can have COUNT(*) = 0, so
        -- this HAVING replays Spark's behavior exactly on every
        -- input (round-8 empty-table probe finding).
        HAVING COUNT(*) > 0
        """,
        ("agg", "cube"),
        "CUBE grouping sets + grouping_id (declared gap, SURVEY §2.3)",
    ))
    s.append(QuerySpec(
        "token_packing",
        lambda sp, d: text.token_packing(_t(sp, d, "documents")),
        f"""
        WITH toks AS (
          SELECT doc_id, lang, CAST(len({_TOKS}) AS INTEGER) AS n_tok
          FROM documents),
        binned AS (
          SELECT lang, doc_id, n_tok,
                 CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             - n_tok) / 2048.0) AS BIGINT) AS bin
          FROM toks)
        SELECT lang, bin, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM binned GROUP BY lang, bin
        """,
        ("text", "packing"),
        "sequence packing: per-shard token-budget bins (pretraining prep)",
    ))
    s.append(QuerySpec(
        "user_days_except_all",
        lambda sp, d: sets.user_days_except_all(_t(sp, d, "events"), "click", "purchase"),
        """
        SELECT user_id, date_trunc('day', ts) AS day
        FROM events WHERE event_type = 'click'
        EXCEPT ALL
        SELECT user_id, date_trunc('day', ts)
        FROM events WHERE event_type = 'purchase'
        """,
        ("set", "multiset"),
        "EXCEPT ALL multiset difference (per-occurrence subtraction)",
    ))
    s.append(QuerySpec(
        "user_days_intersect_all",
        lambda sp, d: sets.user_days_intersect_all(_t(sp, d, "events"), "click", "view"),
        """
        SELECT user_id, date_trunc('day', ts) AS day
        FROM events WHERE event_type = 'click'
        INTERSECT ALL
        SELECT user_id, date_trunc('day', ts)
        FROM events WHERE event_type = 'view'
        """,
        ("set", "multiset"),
        "INTERSECT ALL multiset intersection (min multiplicities)",
    ))
    s.append(QuerySpec(
        "latest_type_per_user_agg",
        lambda sp, d: agg.latest_type_per_user_agg(_t(sp, d, "events")),
        """
        SELECT user_id, MAX(event_id) AS last_event_id,
               arg_max(event_type, event_id) AS last_type,
               arg_min(event_type, event_id) AS first_type
        FROM events GROUP BY user_id
        """,
        ("agg", "argmax"),
        "latest-per-key via max_by/min_by — one agg, no per-key sort (W1's scale twin)",
    ))
    s.append(QuerySpec(
        "bitwise_user_masks",
        lambda sp, d: agg.bitwise_user_masks(_t(sp, d, "events")),
        """
        SELECT event_type, bit_and(event_id) AS mask_and,
               bit_or(event_id) AS mask_or, bit_xor(event_id) AS mask_xor
        FROM events GROUP BY event_type
        """,
        ("agg", "bitwise"),
        "bit_and/bit_or/bit_xor aggregates (bitmap/flag rollups)",
    ))
    s.append(QuerySpec(
        "user_type_sets",
        lambda sp, d: agg.user_type_sets(_t(sp, d, "events")),
        """
        SELECT user_id,
               array_to_string(list_sort(list_distinct(list(event_type))), ',')
                 AS types_seen,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events GROUP BY user_id
        """,
        ("agg", "collect"),
        "collect_set with canonical sorted-string serialization",
    ))
    s.append(QuerySpec(
        "value_percentiles",
        lambda sp, d: agg.value_percentiles(_t(sp, d, "events")),
        f"""
        SELECT event_type,
               {round_det_sql("quantile_cont(value, 0.5)", 4)} AS p50,
               {round_det_sql("quantile_cont(value, 0.9)", 4)} AS p90,
               {round_det_sql("quantile_cont(value, 0.99)", 4)} AS p99
        FROM events GROUP BY event_type
        """,
        ("agg", "quantile"),
        "exact percentiles per group (declared gap: quantiles)",
    ))
    s.append(QuerySpec(
        "mad_outlier_stats",
        lambda sp, d: agg.mad_outlier_stats(_t(sp, d, "events")),
        f"""
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY event_type),
        stats AS (
          SELECT e.event_type,
                 quantile_cont(abs(value - med), 0.5) AS mad,
                 any_value(med) AS med_v, COUNT(*) AS n_events
          FROM events e JOIN med USING (event_type)
          GROUP BY e.event_type),
        flagged AS (
          SELECT e.event_type,
                 CAST(SUM(CASE WHEN abs(value - med_v) > 3.0 * mad
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          FROM events e JOIN stats USING (event_type)
          GROUP BY e.event_type)
        SELECT event_type, n_events,
               {round_det_sql("med_v", 4)} AS median_value,
               {round_det_sql("mad", 4)} AS mad,
               n_outliers
        FROM stats JOIN flagged USING (event_type)
        """,
        ("agg", "robust"),
        "median/MAD robust outlier accounting (50% breakdown point)",
    ))
    s.append(QuerySpec(
        "user_behavior_gini",
        # Gini impurity, not entropy: Σc² is an exact integer, so the
        # diversity score is one IEEE division — no libm log() whose
        # last ulp differs between engines.
        lambda sp, d: agg.user_behavior_gini(_t(sp, d, "events")),
        f"""
        WITH pt AS (
          SELECT user_id, event_type, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        pu AS (
          SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
                 CAST(COUNT(*) AS BIGINT) AS n_types,
                 CAST(SUM(c * c) AS BIGINT) AS sum_c2
          FROM pt GROUP BY user_id)
        SELECT user_id, n_events, n_types,
               {round_det_sql(
                   "1.0 - sum_c2 * 1.0 / (n_events * n_events)", 4)} AS gini
        FROM pu
        """,
        ("agg", "diversity"),
        "per-user Gini behavioral diversity (exact integer moments)",
    ))

    s.append(QuerySpec(
        "salted_top_revenue",
        lambda sp, d: skew.salted_revenue(_t(sp, d, "events")),
        f"""
        SELECT user_id, event_type, {sum_sql("value", "total_value")}
        FROM events GROUP BY user_id, event_type
        ORDER BY total_value DESC, user_id, event_type LIMIT 50
        """,
        ("agg", "topk", "skew"),
        "salted two-phase aggregation == direct aggregation (hot-key "
        "mitigation; identical results, skew-proof shuffle shape)",
    ))

    # ---- joins (SURVEY §2.4 — the reference's biggest gap) -------------
    s.append(QuerySpec(
        "regional_customers",
        lambda sp, d: joins.regional_customer_stats(
            _t(sp, d, "customer"), _t(sp, d, "nation"), _t(sp, d, "region")),
        f"""
        SELECT r_name, COUNT(*) AS n_customers,
               {sum_sql("c_acctbal", "total_acctbal")},
               {avg_sql("c_acctbal", "avg_acctbal")}
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """,
        ("join", "broadcast"),
        "two-hop broadcast dimension join",
    ))
    s.append(QuerySpec(
        "order_revenue_by_priority",
        lambda sp, d: joins.order_revenue_by_priority(
            _t(sp, d, "lineitem"), _t(sp, d, "orders")),
        f"""
        WITH per_order AS (
          SELECT l_orderkey,
                 SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
          FROM lineitem GROUP BY l_orderkey)
        SELECT o_orderpriority,
               {round_det_sql("CAST(SUM(rev) AS DOUBLE)")} AS revenue,
               COUNT(*) AS n_orders
        FROM per_order JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        """,
        ("join",),
        "fact⋈fact equi-join with pre-aggregation",
    ))
    s.append(QuerySpec(
        "customers_with_orders",
        lambda sp, d: joins.customers_with_orders(
            _t(sp, d, "customer"), _t(sp, d, "orders")),
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 100.0)
        GROUP BY c_mktsegment
        """,
        ("join", "semi"),
        "LEFT SEMI (EXISTS) join",
    ))
    s.append(QuerySpec(
        "parts_never_ordered",
        lambda sp, d: joins.parts_never_ordered(
            _t(sp, d, "part"), _t(sp, d, "lineitem")),
        """
        SELECT p_partkey, p_name, p_brand FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """,
        ("join", "anti"),
        "LEFT ANTI (NOT EXISTS) join",
    ))
    s.append(QuerySpec(
        "prior_events_within",
        lambda sp, d: joins.prior_events_within(_t(sp, d, "events")),
        """
        SELECT a.event_id, a.user_id,
               (SELECT COUNT(*) FROM events p
                WHERE p.event_type = 'click' AND p.user_id = a.user_id
                  AND p.ts >= a.ts - INTERVAL 10 MINUTE AND p.ts < a.ts) AS n_prior
        FROM events a WHERE a.event_type = 'error'
        """,
        ("join", "range"),
        "bounded range self-join (as-of analog)",
    ))

    s.append(QuerySpec(
        "shipping_priority",
        lambda sp, d: joins.shipping_priority(
            _t(sp, d, "customer"), _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {round_det_sql(
                   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                   "AS DECIMAL(30,8))) AS DOUBLE)")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM customer
                      WHERE c_custkey = o_custkey
                        AND c_mktsegment = 'BUILDING')
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        ("join", "topk", "flagship"),
        "TPC-H Q3 shape: 3-way join + grouped revenue + top-k",
    ))
    s.append(QuerySpec(
        "local_supplier_volume",
        lambda sp, d: joins.local_supplier_volume(
            _t(sp, d, "customer"), _t(sp, d, "orders"), _t(sp, d, "lineitem"),
            _t(sp, d, "supplier"), _t(sp, d, "nation"), _t(sp, d, "region")),
        f"""
        SELECT n_name,
               {round_det_sql(
                   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                   "AS DECIMAL(30,8))) AS DOUBLE)")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        GROUP BY n_name ORDER BY revenue DESC, n_name
        """,
        ("join", "flagship"),
        "TPC-H Q5 shape: 5-way join, same-nation predicate, region filter",
    ))
    s.append(QuerySpec(
        "late_order_priority",
        lambda sp, d: joins.late_shipment_priority_counts(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """,
        ("join", "semi"),
        "TPC-H Q4 shape: correlated-EXISTS via LEFT SEMI, priority counts",
    ))
    s.append(QuerySpec(
        "priority_flag_counts",
        lambda sp, d: joins.priority_flag_counts(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag
        """,
        ("join", "agg"),
        "TPC-H Q12 shape: fact join + conditional SUM(CASE) per group",
    ))
    s.append(QuerySpec(
        "promo_revenue_pct",
        lambda sp, d: joins.promo_revenue_ratio(
            _t(sp, d, "lineitem"), _t(sp, d, "part")),
        f"""
        SELECT {round_det_sql(
            "100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' "
            "THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) "
            "ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE) "
            "/ CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(30,8))) AS DOUBLE)", 4)} AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
        """,
        ("join", "agg"),
        "TPC-H Q14 shape: conditional-revenue ratio in one agg pass",
    ))
    s.append(QuerySpec(
        "bracket_revenue",
        lambda sp, d: joins.bracket_revenue(
            _t(sp, d, "lineitem"), _t(sp, d, "part")),
        f"""
        SELECT COUNT(*) AS n_items,
               {round_det_sql(
                   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                   "AS DECIMAL(30,8))) AS DOUBLE)")} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
        """,
        ("join", "agg"),
        "TPC-H Q19 shape: equi-join + OR-of-ANDs bracket filter",
    ))
    s.append(QuerySpec(
        "regex_suite",
        lambda sp, d: scalars.regex_suite(_t(sp, d, "documents")),
        """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INTEGER)
                 AS n_vowel_runs,
               CAST(len(regexp_extract_all(text, '\\w{7,}')) AS INTEGER)
                 AS n_long_words,
               NULLIF(regexp_extract(text, '\\w{7,}'), '') AS first_long_word
        FROM documents WHERE doc_id < 100
        """,
        ("scalar", "regex"),
        "regexp_count / regexp_substr surface (RE2-safe ASCII classes)",
    ))
    s.append(QuerySpec(
        "date_math_suite",
        lambda sp, d: scalars.date_math_suite(_t(sp, d, "orders")),
        """
        SELECT o_orderkey,
               CAST(date_diff('day', DATE '1996-01-01',
                              CAST(o_orderdate AS DATE)) AS INTEGER)
                 AS days_since_96,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)
                 AS plus_3_months,
               CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS TIMESTAMP)
                 AS week_before,
               date_trunc('quarter', o_orderdate) AS quarter_start
        FROM orders WHERE o_orderkey < 2000
        """,
        ("scalar", "datetime"),
        "date arithmetic: datediff / add_months clamping / date_sub / quarter",
    ))
    s.append(QuerySpec(
        "corrupt_record_accounting",
        lambda sp, d: scalars.corrupt_record_accounting(_t(sp, d, "events")),
        """
        SELECT event_type, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN props IS NULL
                              OR event_id % 100 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt
        FROM events GROUP BY event_type
        """,
        ("scalar", "quality"),
        "PERMISSIVE parse-failure accounting (dirty rows -> NULL, counted)",
    ))
    s.append(QuerySpec(
        "xml_roundtrip",
        lambda sp, d: scalars.xml_roundtrip(_t(sp, d, "events")),
        """
        SELECT event_id, event_type, value
        FROM events WHERE event_id < 2000
        """,
        ("scalar", "xml"),
        "to_xml/from_xml struct roundtrip (net identity, Spark 4 XML serde)",
    ))
    s.append(QuerySpec(
        "string_suite",
        lambda sp, d: scalars.string_suite(_t(sp, d, "documents")),
        """
        WITH h AS (
          SELECT doc_id, left(text, 12) AS head12, lang, text
          FROM documents WHERE doc_id < 50)
        SELECT doc_id, head12,
               -- CODEPOINT reversal, spelled out: DuckDB's reverse()
               -- is grapheme-aware (combining marks ride their base)
               -- where Spark reverses codepoints (marks detach) —
               -- round-8 unicode fuzz finding. substring() is
               -- codepoint-based in both engines, so the unrolled
               -- form reproduces Spark exactly.
               array_to_string(list_transform(
                 range(1, length(head12) + 1),
                 i -> substring(head12, length(head12) - i + 1, 1)), '')
                 AS head12_rev,
               lpad(lang, 8, '_') AS lang_padded,
               translate(lang, 'aeiou', 'AEIOU') AS lang_vowels,
               repeat(lang, 2) AS lang_twice,
               CAST(length(text) AS INTEGER) AS n_chars
        FROM h
        """,
        ("scalar", "string"),
        "consolidated string-function surface (substring/reverse/pad/translate/repeat)",
    ))
    s.append(QuerySpec(
        "try_arithmetic",
        lambda sp, d: scalars.try_arithmetic(_t(sp, d, "events")),
        # NULL-on-error semantics replayed as explicit predicates: the
        # try_* forms count exactly the rows the strict forms keep.
        """
        SELECT COUNT(*) AS n_rows,
               -- try_divide(value, …) is NULL when value itself is
               -- NULL, not only on a zero divisor (round-8 NULL-dirt
               -- fuzz finding) — the positional replay must match
               COUNT(CASE WHEN event_id % 3 <> 0 AND value IS NOT NULL
                     THEN 1 END) AS n_divisible,
               COUNT(CASE WHEN contains(event_type, 'u') THEN 1 END) AS n_with_u,
               COUNT(try_cast(event_type AS INTEGER)) AS n_numeric
        FROM events
        """,
        ("scalar", "try"),
        "error-safe try_divide/try_element_at/try_to_number (NULL, not fail)",
    ))
    s.append(QuerySpec(
        "udaf_cents_by_type",
        lambda sp, d: grouped.cents_by_type(_t(sp, d, "events")),
        """
        SELECT event_type,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
        """,
        ("udf", "udaf"),
        "pandas GROUPED_AGG UDAF: custom aggregate through the shuffle",
    ))
    s.append(QuerySpec(
        "applyinpandas_user_sequence",
        lambda sp, d: grouped.user_event_sequence(_t(sp, d, "events")),
        """
        -- NULLS LAST explicitly: the operator sorts in PANDAS
        -- (sort_values, NaT last) — unlike the JVM windows, whose
        -- F.asc is NULLS FIRST
        SELECT user_id, event_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts NULLS LAST, event_id)
                    AS INTEGER) AS seq
        FROM events WHERE user_id < 25
        """,
        ("udf", "grouped-map"),
        "applyInPandas grouped map (whole-group pandas transform)",
    ))
    s.append(QuerySpec(
        "cogrouped_user_orders",
        lambda sp, d: grouped.cogrouped_user_order_stats(
            _t(sp, d, "events"), _t(sp, d, "orders")),
        """
        WITH e AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        o AS (SELECT o_custkey AS user_id, COUNT(*) AS n
              FROM orders WHERE o_custkey < 200 GROUP BY o_custkey)
        SELECT COALESCE(e.user_id, o.user_id) AS user_id,
               COALESCE(e.n, 0) AS n_events, COALESCE(o.n, 0) AS n_orders
        FROM e FULL JOIN o ON e.user_id = o.user_id
        """,
        ("udf", "cogroup"),
        "cogrouped applyInPandas (two-sided grouped map, full-outer keys)",
    ))
    s.append(QuerySpec(
        "supplier_variety",
        lambda sp, d: joins.supplier_variety(
            _t(sp, d, "lineitem"), _t(sp, d, "part")),
        """
        SELECT p_brand, p_size - p_size % 10 AS size_bucket,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, size_bucket
        """,
        ("join", "agg"),
        "TPC-H Q16 shape: distinct-supplier counts per part bucket",
    ))
    s.append(QuerySpec(
        "variant_props_stats",
        lambda sp, d: scalars.variant_props_stats(_t(sp, d, "events")),
        """
        SELECT event_type, COUNT(k) AS n_with_k,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               MIN(k) AS min_k, MAX(k) AS max_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events) t
        GROUP BY event_type
        """,
        ("scalar", "variant"),
        "VARIANT parse_json + variant_get (schemaless semi-structured)",
    ))
    def _pyds_stream(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        agg = (
            pydatasource.synthetic_events_stream(sp, rows=1000, batch_rows=300)
            .groupBy("bucket")
            .agg(F.count("*").alias("n_rows"), exact_sum(F.col("score")).alias("sum_score"))
        )
        return streams.run_to_memory(agg, "complete")

    s.append(QuerySpec(
        "pyds_stream_bucket_stats",
        _pyds_stream,
        f"""
        SELECT CAST(range % 10 AS INTEGER) AS bucket, COUNT(*) AS n_rows,
               {sum_sql("(range * 7 % 1000) / 10.0", "sum_score")}
        FROM range(0, 1000)
        GROUP BY bucket
        """,
        ("source", "pydatasource", "streaming"),
        "Python DataSource STREAMING reader: offset-managed micro-batches",
    ))
    s.append(QuerySpec(
        "pyds_bucket_stats",
        lambda sp, d: pydatasource.synthetic_events(sp)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            exact_sum(F.col("score")).alias("sum_score"),
        ),
        f"""
        SELECT CAST(range % 10 AS INTEGER) AS bucket, COUNT(*) AS n_rows,
               {sum_sql("(range * 7 % 1000) / 10.0", "sum_score")}
        FROM range(0, 10000)
        GROUP BY bucket
        """,
        ("source", "pydatasource"),
        "Spark 4 Python DataSource: partitioned executor-side read",
    ))
    s.append(QuerySpec(
        "user_first_last_events",
        lambda sp, d: windows.user_first_last_events(_t(sp, d, "events")),
        """
        SELECT user_id, first_type, last_type, second_type,
               COUNT(event_id) AS n_events
        FROM (SELECT user_id, event_id,
                     first_value(event_type) OVER w AS first_type,
                     last_value(event_type)  OVER w AS last_type,
                     nth_value(event_type, 2) OVER w AS second_type
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING)) t
        GROUP BY user_id, first_type, last_type, second_type
        """,
        ("window", "frame"),
        "first/last/nth_value over an explicit full window frame",
    ))
    s.append(QuerySpec(
        "trailing_hour_sums",
        lambda sp, d: windows.trailing_hour_sums(_t(sp, d, "events")),
        f"""
        SELECT user_id, event_id,
               {round_det_sql(
                   "CAST(SUM(CAST(value AS DECIMAL(30,8))) OVER ("
                   "PARTITION BY user_id "
                   "ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
                   "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)")}
                 AS trailing_hour_value
        FROM events
        """,
        ("window", "range-frame"),
        "RANGE-framed trailing-hour running sum (time, not row, window)",
    ))
    s.append(QuerySpec(
        "map_hof_roundtrip",
        lambda sp, d: reshape.map_hof_roundtrip(_t(sp, d, "events")),
        """
        SELECT user_id, event_type, CAST(COUNT(*) * 2 AS BIGINT) AS n_doubled
        FROM events GROUP BY user_id, event_type
        HAVING COUNT(*) * 2 >= 30
        """,
        ("reshape", "map", "hof"),
        "map transform_values/map_filter HOFs inside the map column",
    ))
    s.append(QuerySpec(
        "event_count_map_roundtrip",
        lambda sp, d: reshape.event_count_map_roundtrip(_t(sp, d, "events")),
        """
        SELECT user_id, event_type, COUNT(*) AS n_events
        FROM events GROUP BY user_id, event_type
        """,
        ("reshape", "map"),
        "map<string,long> build (map_from_entries) + explode roundtrip",
    ))
    s.append(QuerySpec(
        "embedding_predicates",
        lambda sp, d: arrays.embedding_predicates(_t(sp, d, "embeddings")),
        """
        SELECT vec_id,
               len(list_filter(embedding, x -> x < 0)) > 0 AS any_negative,
               len(list_filter(embedding, x -> abs(x) < 1.0)) = len(embedding)
                 AS all_unit_bounded,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER)
                 AS n_positive
        FROM embeddings
        """,
        ("array", "hof"),
        "exists/forall/filter higher-order functions, no UDF, no explode",
    ))
    s.append(QuerySpec(
        "customer_order_distribution",
        lambda sp, d: joins.customer_order_distribution(
            _t(sp, d, "customer"), _t(sp, d, "orders")),
        """
        SELECT c_count, COUNT(*) AS n_customers
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey) per_cust
        GROUP BY c_count
        """,
        ("join", "agg"),
        "TPC-H Q13 shape: outer join + count-of-counts distribution",
    ))
    s.append(QuerySpec(
        "small_quantity_revenue",
        lambda sp, d: joins.small_quantity_revenue(_t(sp, d, "lineitem")),
        f"""
        WITH per_part AS (
          SELECT l_partkey AS pk,
                 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
                        / COUNT(l_quantity)) AS qty_lim
          FROM lineitem GROUP BY l_partkey)
        SELECT COUNT(*) AS n_items,
               {round_det_sql(
                   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / 7.0")}
               AS avg_yearly
        FROM lineitem JOIN per_part
          ON l_partkey = pk AND l_quantity < qty_lim
        """,
        ("join", "agg"),
        "TPC-H Q17 shape: per-part avg threshold via self-agg-join",
    ))
    s.append(QuerySpec(
        "large_volume_customers",
        lambda sp, d: joins.large_volume_customers(
            _t(sp, d, "customer"), _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        f"""
        WITH big AS (
          SELECT l_orderkey, {sum_sql("l_quantity", "sum_qty")}
          FROM lineitem GROUP BY l_orderkey
          HAVING {round_det_sql(
              "CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)")} > 250.0)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        ("join", "topk"),
        "TPC-H Q18 shape: HAVING on grouped fact, then enrich + top-k",
    ))
    s.append(QuerySpec(
        "dormant_rich_customers",
        lambda sp, d: joins.dormant_rich_customers(
            _t(sp, d, "customer"), _t(sp, d, "events")),
        f"""
        SELECT c_nationkey, COUNT(*) AS n_customers,
               {sum_sql("c_acctbal", "total_acctbal")}
        FROM customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
                                  / COUNT(c_acctbal)
                           FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM events
                          WHERE user_id = c_custkey AND event_type = 'purchase')
        GROUP BY c_nationkey
        """,
        ("join", "anti", "scalar-subquery"),
        "TPC-H Q22 shape: scalar-subquery threshold + anti join",
    ))
    s.append(QuerySpec(
        "forecast_revenue",
        lambda sp, d: agg.forecast_revenue(_t(sp, d, "lineitem")),
        f"""
        SELECT COUNT(*) AS n_items,
               {sum_sql("l_extendedprice * l_discount", "forecast_revenue")}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
        ("agg", "scan"),
        "TPC-H Q6 shape: single-scan global agg, all predicates pushed",
    ))
    s.append(QuerySpec(
        "grouping_sets_pricing",
        lambda sp, d: agg.grouping_sets_pricing(_t(sp, d, "lineitem")),
        f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               {sum_sql("l_extendedprice", "sum_price")},
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        -- Spark emits NO rows for ROLLUP/CUBE/GROUPING SETS over an
        -- empty relation, dropping the SQL-standard grand-total row
        -- of the () grouping set (which DuckDB emits). No grouping-
        -- set row over a non-empty input can have COUNT(*) = 0, so
        -- this HAVING replays Spark's behavior exactly on every
        -- input (round-8 empty-table probe finding).
        HAVING COUNT(*) > 0
        """,
        ("agg", "grouping-sets"),
        "Explicit GROUPING SETS + grouping_id (completes rollup/cube trio)",
    ))

    # One ANSI string, two engines: the Spark builder runs EXACTLY the
    # oracle SQL through spark.sql() over registered views — the
    # deterministic-rounding kernel (CAST/FLOOR/CEIL) is engine-portable
    # by construction, so the whole query text is too.
    _SUPPLIER_SQL = f"""
        SELECT s_name, COUNT(DISTINCT l_orderkey) AS n_orders,
               {sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        """

    def _sql_api_supplier(sp: SparkSession, d: str) -> DataFrame:
        from big_data_exercise_spark.tables import register_views
        tune_session(sp)
        register_views(sp, d, ("supplier", "lineitem"))
        return sp.sql(_SUPPLIER_SQL)

    s.append(QuerySpec(
        "supplier_revenue_sql",
        _sql_api_supplier,
        _SUPPLIER_SQL,
        ("join", "agg", "sql-api"),
        "spark.sql() over registered views running the IDENTICAL ANSI "
        "text as the DuckDB oracle (S8 dashboard-SQL surface)",
    ))

    # Recursive CTE (new SQL surface in Spark 4): ancestor walk over a
    # deterministic binary-tree parentage on nation keys
    # (parent(k) = (k-1) div 2, root 0). One template, two dialects —
    # the only divergence is the integer-division operator.
    _RCTE = """
        WITH RECURSIVE anc(node, anc_key, depth) AS (
          SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
                 CAST(0 AS INTEGER)
          FROM nation
          UNION ALL
          SELECT node, CAST((anc_key - 1) {intdiv} 2 AS BIGINT),
                 CAST(depth + 1 AS INTEGER)
          FROM anc WHERE anc_key > 0)
        SELECT node AS n_nationkey, CAST(MAX(depth) AS INTEGER) AS depth
        FROM anc GROUP BY node
        """

    def _recursive_depth(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        register_views(sp, d, ("nation",))
        return sp.sql(_RCTE.format(intdiv="DIV"))

    s.append(QuerySpec(
        "recursive_tree_depth",
        _recursive_depth,
        _RCTE.format(intdiv="//"),
        ("sql-api", "recursive"),
        "WITH RECURSIVE ancestor walk (Spark 4 recursive CTE surface)",
    ))

    s.append(QuerySpec(
        "returned_item_report",
        lambda sp, d: joins.returned_item_report(
            _t(sp, d, "customer"), _t(sp, d, "orders"), _t(sp, d, "lineitem"),
            _t(sp, d, "nation")),
        f"""
        SELECT c_custkey, c_name, n_name,
               {round_det_sql(
                   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                   "AS DECIMAL(30,8))) AS DOUBLE)")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        ("join", "topk"),
        "TPC-H Q10 shape: returned-item revenue per customer, top-k",
    ))

    def _partitioned_day(sp: SparkSession, d: str) -> DataFrame:
        ev = _t(sp, d, "events")
        out = os.path.join(scratch_dir("bdes_part_"), "events_by_day")
        (
            ev.withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
        # The day filter becomes a PartitionFilter: only one directory
        # of the partitioned copy is read — the standard time-partitioned
        # 100 TB layout (scan I/O ∝ days queried, not table size).
        day = sp.read.parquet(out).filter(F.col("day") == F.lit("2024-01-05"))
        return day.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )

    def _schema_evolution(sp: SparkSession, d: str) -> DataFrame:
        # Parquet schema evolution: half the table written with the v1
        # schema (no event_type), half with v2 (event_type added);
        # mergeSchema=true reconciles by NAME and NULL-fills the column
        # for v1 files — the append-only-evolution contract a long-lived
        # 100 TB table depends on (per-file pruning still applies; the
        # merged read costs one extra footer pass at planning).
        ev = _t(sp, d, "events").select("event_id", "user_id", "event_type")
        out = scratch_dir("bdes_evo_")
        v1 = ev.filter(F.col("event_id") % 2 == 0).drop("event_type")
        v2 = ev.filter(F.col("event_id") % 2 == 1)
        v1.write.mode("overwrite").parquet(os.path.join(out, "v1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "v2"))
        merged = sp.read.option("mergeSchema", "true").parquet(
            os.path.join(out, "v1"), os.path.join(out, "v2")
        )
        return merged.groupBy(
            F.coalesce("event_type", F.lit("<pre-schema>")).alias("event_type")
        ).agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )

    s.append(QuerySpec(
        "schema_evolution_read",
        _schema_evolution,
        """
        SELECT CASE WHEN event_id % 2 = 0 THEN '<pre-schema>'
                    ELSE event_type END AS event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
        """,
        ("source", "schema-evolution"),
        "mergeSchema parquet read across file-schema generations",
    ))

    s.append(QuerySpec(
        "partitioned_day_rollup",
        _partitioned_day,
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql("value", "total_value")}
        FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        GROUP BY event_type
        """,
        ("etl", "partition", "sink"),
        "write-time day partitioning + partition-pruned scan rollup",
    ))

    s.append(QuerySpec(
        "bucketed_order_revenue",
        lambda sp, d: bucketing.bucketed_order_revenue(
            sp, d, _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        f"""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               {sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        ("etl", "bucketing", "join"),
        "co-located fact⋈fact join over write-time bucketed tables — "
        "zero Exchange before the join (plan-test pinned)",
    ))

    s.append(QuerySpec(
        "zorder_box_stats",
        # Z-order (Morton) clustered layout: the 2-D box predicate is
        # pushed as literals and prunes parquet row groups on BOTH
        # columns (prunability measured directly from row-group stats
        # in tests/test_zorder.py). Results are layout-invariant, so
        # the oracle computes the identical box over the raw table;
        # bound arithmetic (min + frac*(max-min), IEEE double) is
        # mirrored term for term.
        lambda sp, d: layout.zorder_box_stats(sp, d, _t(sp, d, "events")),
        f"""
        WITH b AS (
          SELECT CAST(MIN(user_id) AS DOUBLE) AS u_lo,
                 CAST(MAX(user_id) AS DOUBLE) AS u_hi,
                 CAST(MIN(value) AS DOUBLE) AS v_lo,
                 CAST(MAX(value) AS DOUBLE) AS v_hi
          FROM events)
        SELECT COUNT(*) AS n_events,
               {sum_sql("value", "sum_value")},
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events, b
        WHERE user_id BETWEEN u_lo + CAST(0.30 AS DOUBLE) * (u_hi - u_lo)
                          AND u_lo + CAST(0.55 AS DOUBLE) * (u_hi - u_lo)
          AND value   BETWEEN v_lo + CAST(0.20 AS DOUBLE) * (v_hi - v_lo)
                          AND v_lo + CAST(0.45 AS DOUBLE) * (v_hi - v_lo)
        """,
        ("etl", "layout", "zorder"),
        "Morton/Z-order clustered rewrite + 2-D box scan: row-group "
        "pruning on two columns at once (layout-invariant oracle)",
    ))

    s.append(QuerySpec(
        "bucketed_point_lookup",
        lambda sp, d: bucketing.bucketed_point_lookup(
            sp, d, _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        f"""
        SELECT l_orderkey, COUNT(*) AS n_items,
               {sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM lineitem
        WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM lineitem)
        GROUP BY l_orderkey
        """,
        ("etl", "bucketing", "pruning"),
        "index-style point lookup pruned to one bucket "
        "(SelectedBucketsCount pinned by plan test)",
    ))

    s.append(QuerySpec(
        "seasonal_decompose_daily",
        lambda sp, d: timeseries.seasonal_decompose_daily(_t(sp, d, "events")),
        f"""
        WITH day_val AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS day_value
          FROM events GROUP BY 1),
        probe AS (
          SELECT d.day + CAST(t.off AS INTEGER) AS day,
                 d.day_value AS neighbor_value
          FROM day_val d, range(-3, 4) t(off)),
        trend AS (
          SELECT d.day, d.day_value,
                 {round_det_sql(
                     "CAST(SUM(CAST(p.neighbor_value AS DECIMAL(30,8))) AS DOUBLE)"
                     " / COUNT(*)", 4)} AS trend
          FROM day_val d JOIN probe p USING (day) GROUP BY 1, 2),
        detr AS (SELECT day, day_value, trend, day_value - trend AS detr
                 FROM trend),
        seasonal AS (
          SELECT dayofweek(day) AS wd,
                 {round_det_sql(
                     "CAST(SUM(CAST(detr AS DECIMAL(30,8))) AS DOUBLE)"
                     " / COUNT(*)", 4)} AS seasonal
          FROM detr GROUP BY 1)
        SELECT CAST(d.day AS TIMESTAMP) AS day,
               {round_det_sql("d.day_value", 4)} AS day_value,
               d.trend, s.seasonal,
               {round_det_sql("d.detr - s.seasonal", 4)} AS residual
        FROM detr d JOIN seasonal s ON dayofweek(d.day) = s.wd
        """,
        ("timeseries", "stats"),
        "classical additive seasonal decomposition (trend = centered "
        "moving average via offset self-join — no global-series window; "
        "seasonal = per-weekday mean of detrended; residual closes the "
        "identity)",
    ))

    s.append(QuerySpec(
        "pit_feature_backfill",
        lambda sp, d: sequences.pit_feature_backfill(_t(sp, d, "events")),
        """
        SELECT event_id, user_id, n_prior_events, n_prior_clicks,
               last_value, tenure_us FROM (
          SELECT event_id, user_id, event_type,
                 COUNT(*) OVER w AS n_prior_events,
                 CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1
                                   ELSE 0 END) OVER w, 0) AS BIGINT)
                   AS n_prior_clicks,
                 LAST_VALUE(value IGNORE NULLS) OVER w AS last_value,
                 epoch_us(ts) - epoch_us(MIN(ts) OVER w) AS tenure_us
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ) t WHERE event_type = 'purchase'
        """,
        ("window", "feature-store", "asof"),
        "leakage-free point-in-time feature backfill: label rows and "
        "feature events ride one strictly-preceding user window — no "
        "per-label history re-scan, exact cutoff under ties",
    ))

    s.append(QuerySpec(
        "observed_rollup",
        lambda sp, d: observe.observed_rollup(_t(sp, d, "events")),
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql("value", "total_value")}
        FROM events GROUP BY event_type
        """,
        ("observability", "agg"),
        "df.observe ingest metrics (rows / null rate / exact total) "
        "riding the rollup's own scan — no second pass; the hash "
        "proves observation never perturbs results",
    ))

    def _compacted_rollup(sp: SparkSession, d: str) -> DataFrame:
        ev = _t(sp, d, "events")
        base = scratch_dir("bdes_compact_")
        frag, dst = os.path.join(base, "frag"), os.path.join(base, "compact")
        layout.fragment_write(ev.select("event_type", "value"), frag)
        compacted = layout.compact(sp, frag, dst)
        return compacted.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )

    s.append(QuerySpec(
        "compacted_rollup",
        _compacted_rollup,
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql("value", "total_value")}
        FROM events GROUP BY event_type
        """,
        ("etl", "compaction", "layout"),
        "small-files remediation: 200-shard fragmented write → "
        "shuffle-free coalesce compaction → rollup over the compacted "
        "copy (file counts pinned by property test)",
    ))

    def _heavy_hitters(sp: SparkSession, d: str) -> DataFrame:
        ev = _t(sp, d, "events")
        # deterministic skew fold: every 10th user collapses into hot
        # key 0, so the n/k threshold actually discriminates at bench
        # SF (the raw fixture keys are uniform).
        keyed = ev.select(
            F.when(F.col("user_id") % 10 == 0, F.lit(0))
            .otherwise(F.col("user_id"))
            .alias("user_key")
        )
        return frequency.heavy_hitters(keyed, key="user_key")

    s.append(QuerySpec(
        "heavy_hitter_users",
        _heavy_hitters,
        f"""
        SELECT user_key, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (SELECT CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END
                AS user_key FROM events) t
        GROUP BY user_key
        HAVING COUNT(*) * {frequency.K_COUNTERS} > (SELECT COUNT(*) FROM events)
        ORDER BY user_key
        """,
        ("agg", "sketch", "heavy-hitters"),
        "exact heavy hitters via per-partition Misra-Gries candidates + "
        "exact verify — bounded state, no full-cardinality shuffle; "
        "oracle is the naive plan (hash equality = supersetness proof)",
    ))

    s.append(QuerySpec(
        "value_dispersion",
        lambda sp, d: agg.value_dispersion(_t(sp, d, "events")),
        f"""
        WITH m AS (
          SELECT event_type, COUNT(value) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) AS sxx
          FROM events GROUP BY event_type)
        SELECT event_type, n,
               {round_det_sql("sx / n", 4)} AS mean_value,
               {round_det_sql("sqrt((sxx - sx * sx / n) / (n - 1))", 4)}
                 AS stddev_value
        FROM m
        """,
        ("agg", "stats"),
        "mean/stddev from exact decimal moment sums (engine-stable "
        "dispersion; native stddev impls are order-dependent)",
    ))

    s.append(QuerySpec(
        "last_click_before_error",
        lambda sp, d: joins.last_prior_event(_t(sp, d, "events")),
        """
        SELECT event_id, user_id, last_prior_ts FROM (
          SELECT event_id, user_id, event_type,
                 MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_prior_ts
          FROM events WHERE event_type IN ('click', 'error')) t
        WHERE event_type = 'error'
        """,
        ("join", "asof", "window"),
        "true as-of join via tagged union + window (linear per user, "
        "no candidate re-scan)",
    ))
    s.append(QuerySpec(
        "user_segment_coverage",
        lambda sp, d: joins.user_segment_coverage(
            _t(sp, d, "events"), _t(sp, d, "customer")),
        """
        WITH users AS (SELECT DISTINCT user_id FROM events)
        SELECT c.c_mktsegment AS segment, COUNT(*) AS n_rows,
               COUNT(u.user_id) AS n_active_users,
               COUNT(c.c_custkey) AS n_customers
        FROM users u FULL OUTER JOIN customer c ON u.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
        """,
        ("join", "outer"),
        "FULL OUTER join with unmatched-side accounting",
    ))

    # ---- windows (SURVEY §2.5) -----------------------------------------
    s.append(QuerySpec(
        "latest_event_per_user",
        lambda sp, d: windows.latest_event_per_user(_t(sp, d, "events")),
        """
        SELECT user_id, event_id, event_type, value FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1
        """,
        ("window",),
        "row_number latest-per-key",
    ))
    s.append(QuerySpec(
        "running_total_per_user",
        lambda sp, d: windows.running_total_per_user(_t(sp, d, "events")),
        f"""
        SELECT user_id, event_id,
               {round_det_sql("run_raw")} AS running_value
        FROM (
          SELECT user_id, event_id,
                 SUM(value) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_raw
          FROM events) t
        """,
        ("window",),
        "running SUM per key",
    ))
    s.append(QuerySpec(
        "inter_event_gap_ms",
        lambda sp, d: windows.inter_event_gap_ms(_t(sp, d, "events")),
        """
        SELECT user_id, event_id,
               epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS gap_ms
        FROM events
        """,
        ("window",),
        "lag() inter-event gap in ms",
    ))
    s.append(QuerySpec(
        "top_k_per_group",
        lambda sp, d: windows.top_k_per_group(_t(sp, d, "events")),
        f"""
        SELECT event_type, CAST(rk AS INTEGER) AS rk, event_id, user_id,
               {round_det_sql("value")} AS value FROM (
          SELECT event_type, event_id, user_id, value,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
          FROM events) t
        WHERE rk <= 3
        """,
        ("window", "topk"),
        "top-k per group via partitioned window",
    ))

    s.append(QuerySpec(
        "value_ranks",
        lambda sp, d: windows.value_ranks(_t(sp, d, "events")),
        f"""
        SELECT event_type, event_id, CAST(dr AS INTEGER) AS dr,
               {round_det_sql("pr", 6)} AS pr, CAST(quartile AS INTEGER) AS quartile
        FROM (
          SELECT event_type, event_id,
                 dense_rank() OVER w AS dr,
                 percent_rank() OVER w AS pr,
                 ntile(4) OVER w AS quartile
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)) t
        WHERE dr <= 20
        """,
        ("window", "rank"),
        "dense_rank / percent_rank / ntile ranking surface",
    ))

    # ---- reshape (SURVEY §2.8) -----------------------------------------
    s.append(QuerySpec(
        "explode_words",
        lambda sp, d: reshape.explode_words(_t(sp, d, "documents")),
        r"""
        SELECT word, COUNT(*) AS n FROM (
          SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20
        """,
        ("reshape", "explode"),
        "explode + word count (D1, vehicle_consumer.py:171-176)",
    ))
    s.append(QuerySpec(
        "pivot_event_counts",
        lambda sp, d: reshape.pivot_event_counts(_t(sp, d, "events"), EVENT_TYPES),
        """
        SELECT user_id,
               COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS n_click,
               COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS n_view,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
               COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS n_signup,
               COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS n_error
        FROM events GROUP BY user_id
        """,
        ("reshape", "pivot"),
        "long→wide pivot, explicit value list (D2)",
    ))
    s.append(QuerySpec(
        "melt_pricing",
        lambda sp, d: reshape.melt_pricing(_t(sp, d, "lineitem")),
        f"""
        WITH agg AS (
          SELECT l_returnflag, {sum_sql("l_quantity", "sum_qty")},
                 {sum_sql("l_extendedprice", "sum_price")}
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
        """,
        ("reshape", "melt"),
        "wide→long melt via stack() (D3)",
    ))

    s.append(QuerySpec(
        "word_positions",
        lambda sp, d: reshape.word_positions(_t(sp, d, "documents")),
        f"""
        SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS word
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
              FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
                    WHERE doc_id < 10) t) tt
        """,
        ("reshape", "explode"),
        "posexplode ordinal flatten (D1 variant)",
    ))

    # ---- scalars / projections / sampling (SURVEY §2.2, §2.6, §2.9) ----
    s.append(QuerySpec(
        "json_props_stats",
        lambda sp, d: scalars.json_props_stats(_t(sp, d, "events")),
        f"""
        SELECT event_type, {round_det_sql("AVG(k)")} AS avg_k, MAX(k) AS max_k,
               COUNT(k) AS n_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
              FROM events) t
        GROUP BY event_type
        """,
        ("scalar", "json"),
        "from_json with explicit schema (P2)",
    ))
    s.append(QuerySpec(
        "regex_keyword_hits",
        lambda sp, d: scalars.regex_keyword_hits(_t(sp, d, "documents")),
        r"""
        SELECT lang, keyword, COUNT(*) AS n FROM (
          SELECT lang,
                 regexp_extract(text, '\b(spark|join|merge|stream)\b', 1) AS keyword
          FROM documents) t
        WHERE keyword <> '' GROUP BY lang, keyword
        """,
        ("scalar", "regex"),
        "regexp_extract tagging (P5)",
    ))
    s.append(QuerySpec(
        "scalar_projection",
        lambda sp, d: scalars.scalar_projection(_t(sp, d, "documents")),
        f"""
        SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS len_chars,
               {round_det_sql("n_chars / 100.0")} AS hecto_chars,
               UPPER(lang) AS lang_uc,
               SUBSTRING(text, 1, 10) AS prefix10,
               CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS size_class
        FROM documents
        """,
        ("scalar",),
        "length/round/upper/substring/CASE (P8, P9)",
    ))
    s.append(QuerySpec(
        "clean_text_stats",
        lambda sp, d: scalars.clean_text_stats(_t(sp, d, "documents")),
        """
        WITH c AS (
          SELECT doc_id, text,
                 trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9 ]+', '', 'g'), '\\s+', ' ', 'g')) AS cleaned
          FROM documents)
        SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS raw_len,
               CAST(LENGTH(cleaned) AS INTEGER) AS clean_len,
               SUBSTRING(cleaned, 1, 20) AS clean_prefix
        FROM c
        """,
        ("scalar", "text"),
        "normalization chain: lower → strip → collapse whitespace → trim",
    ))
    s.append(QuerySpec(
        "prefix_edit_distances",
        lambda sp, d: scalars.prefix_edit_distances(_t(sp, d, "documents")),
        """
        -- ASCII projection first: Spark levenshtein is codepoint-
        -- based, DuckDB's is BYTE-based; they agree exactly on the
        -- ASCII subset (round-8 fuzz finding)
        WITH p AS (SELECT doc_id,
                          SUBSTRING(regexp_replace(COALESCE(text, ''),
                                    '[^\x20-\x7e]', '', 'g'),
                                    1, 20) AS p
                   FROM documents WHERE doc_id < 15)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(levenshtein(a.p, b.p) AS INTEGER) AS edit_distance
        FROM p a JOIN p b ON a.doc_id < b.doc_id
        """,
        ("scalar", "text", "dedup"),
        "pairwise Levenshtein on prefixes (fuzzy-dedup primitive, "
        "bounded kernel)",
    ))
    s.append(QuerySpec(
        "fulfillment_lag_stats",
        lambda sp, d: joins.fulfillment_lag_stats(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")
        ),
        f"""
        WITH j AS (
          SELECT o_orderpriority,
                 date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) AS lag_days
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        SELECT o_orderpriority, COUNT(*) AS n_lines,
               CAST(MIN(lag_days) AS INTEGER) AS min_lag,
               CAST(MAX(lag_days) AS INTEGER) AS max_lag,
               {round_det_sql("SUM(lag_days) * 1.0 / COUNT(*)", 4)}
                 AS avg_lag,
               {round_det_sql("quantile_cont(lag_days, 0.9)", 4)} AS p90_lag
        FROM j GROUP BY o_orderpriority
        """,
        ("join", "sla", "bi"),
        "order-to-ship lag stats per priority (SLA report)",
    ))
    s.append(QuerySpec(
        "fuzzy_supplier_matches",
        # SymSpell deletion-neighborhood blocking: exact ED<=1 join
        # with |s|+1 fanout per row; the oracle is the brute-force
        # all-pairs join, so the hash check proves zero recall loss.
        lambda sp, d: joins.fuzzy_supplier_matches(_t(sp, d, "supplier")),
        """
        SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
               CAST(levenshtein(a.s_name, b.s_name) AS INTEGER)
                 AS edit_distance
        FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        WHERE levenshtein(a.s_name, b.s_name) <= 1
        """,
        ("join", "fuzzy", "dedup"),
        "exact edit-distance-1 join via deletion-neighborhood blocking",
    ))
    s.append(QuerySpec(
        "calendar_features",
        lambda sp, d: scalars.calendar_features(_t(sp, d, "events")),
        """
        SELECT event_id,
               CAST(year(ts) AS INTEGER) AS y,
               CAST(month(ts) AS INTEGER) AS m,
               CAST(day(ts) AS INTEGER) AS d,
               CAST(hour(ts) AS INTEGER) AS h,
               CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
               CAST(dayofyear(ts) AS INTEGER) AS doy,
               CAST(weekofyear(ts) AS INTEGER) AS woy,
               CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS month_end
        FROM events
        """,
        ("scalar", "time"),
        "datetime feature extraction (Spark dayofweek is 1=Sunday; "
        "DuckDB 0=Sunday, mapped in the oracle)",
    ))
    s.append(QuerySpec(
        "epoch_roundtrip",
        lambda sp, d: scalars.epoch_roundtrip(_t(sp, d, "events")),
        """
        SELECT event_id, epoch_ms(ts) AS epoch_ms,
               make_timestamp(epoch_ms(ts) * 1000) AS ts_roundtrip,
               date_trunc('day', ts) AS day
        FROM events
        """,
        ("scalar", "time"),
        "epoch↔timestamp conversion (P7)",
    ))
    s.append(QuerySpec(
        "systematic_sample",
        lambda sp, d: scalars.systematic_sample(_t(sp, d, "events")),
        f"""
        SELECT event_id, user_id, event_type,
               {round_det_sql("value")} AS value
        FROM events WHERE event_id % 37 = 0
        """,
        ("sample",),
        "deterministic systematic sample (O2 analog)",
    ))

    # ---- set operations (SURVEY §2.7) ----------------------------------
    s.append(QuerySpec(
        "users_intersect",
        lambda sp, d: sets.users_intersect(_t(sp, d, "events"), "purchase", "error"),
        """
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'error'
        """,
        ("set",),
        "INTERSECT",
    ))
    s.append(QuerySpec(
        "users_except",
        lambda sp, d: sets.users_except(_t(sp, d, "events"), "click", "purchase"),
        """
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        ("set",),
        "EXCEPT",
    ))
    s.append(QuerySpec(
        "distinct_user_type_pairs",
        lambda sp, d: sets.all_user_type_pairs(_t(sp, d, "events")),
        "SELECT DISTINCT user_id, event_type FROM events",
        ("set", "dedup"),
        "dropDuplicates on projection",
    ))

    # ---- text analysis (north star) ------------------------------------
    s.append(QuerySpec(
        "text_quality_stats",
        lambda sp, d: text.quality_stats(_t(sp, d, "documents")),
        f"""
        SELECT doc_id, lang,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
               CASE WHEN len(toks) > 0 THEN
                 {round_det_sql("len(list_distinct(toks)) * 1.0 / len(toks)", 4)}
               ELSE 0.0 END AS lexical_diversity,
               CASE WHEN len(toks) > 0 THEN
                 {round_det_sql(
                     "len(list_filter(toks, t -> t IN ('the','a','and','of')))"
                     " * 1.0 / len(toks)", 4)}
               ELSE 0.0 END AS stopword_ratio,
               CASE WHEN len(toks) > 0 THEN
                 {round_det_sql(
                     "list_sum(list_transform(toks, t -> length(t)))"
                     " * 1.0 / len(toks)", 4)}
               ELSE 0.0 END AS mean_token_len
        FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents) t
        """,
        ("text",),
        "per-doc quality scoring (token/diversity/stopword stats)",
    ))
    s.append(QuerySpec(
        "token_counts",
        lambda sp, d: text.token_counts(_t(sp, d, "documents")),
        f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_ws_tokens,
               CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct_tokens,
               CAST(len(regexp_extract_all(COALESCE(text, ''),
                                           '\\w+|[^\\w\\s]+'))
                    AS INTEGER) AS n_bpe_tokens,
               {_FP} AS fp
        FROM documents
        """,
        ("text",),
        "whitespace + BPE-ish token counting, doc fingerprint (RE2-safe regex)",
    ))
    def _udtf_sentences(sp: SparkSession, d: str) -> DataFrame:
        from big_data_exercise_spark.functions import udtfs
        return udtfs.doc_sentences(sp, _t(sp, d, "documents"))

    s.append(QuerySpec(
        "udtf_sentences",
        _udtf_sentences,
        """
        WITH t AS (
          SELECT doc_id, string_split(text, '.') AS parts
          FROM documents WHERE doc_id < 20),
        u AS (SELECT doc_id, unnest(generate_series(1, len(parts))) AS i, parts
              FROM t),
        -- ASCII-whitespace trim set matches udtfs._WS exactly: SQL
        -- trim() defaults to SPACES ONLY ('the\t' stays untrimmed)
        -- while Python str.strip() is Unicode-aware — both replaced
        -- by the same explicit set (round-8 fuzz finding)
        c AS (SELECT doc_id, i,
                     trim(parts[i], ' ' || chr(9) || chr(10) || chr(13)
                                    || chr(11) || chr(12)) AS sentence
              FROM u)
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
                    AS INTEGER) AS sent_idx,
               sentence, CAST(length(sentence) AS INTEGER) AS n_chars
        FROM c WHERE sentence <> ''
        """,
        ("text", "udtf"),
        "Python UDTF in a LATERAL join (one-to-many table function)",
    ))
    s.append(QuerySpec(
        "corpus_language_stats",
        lambda sp, d: text.corpus_language_stats(_t(sp, d, "documents")),
        f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
               {round_det_sql("AVG(n_chars)")} AS avg_chars
        FROM documents GROUP BY lang
        """,
        ("text", "agg"),
        "per-language corpus rollup",
    ))
    s.append(QuerySpec(
        "doc_sentiment_scores",
        lambda sp, d: sentiment.score_documents(_t(sp, d, "documents")),
        f"""
        SELECT doc_id,
               CAST(len(list_filter({_TOKS}, t -> t IN ('fast','small'))) AS INTEGER) AS n_pos,
               CAST(len(list_filter({_TOKS}, t -> t IN ('slow','big'))) AS INTEGER) AS n_neg,
               CASE WHEN len(list_filter({_TOKS}, t -> t IN ('fast','small')))
                       > len(list_filter({_TOKS}, t -> t IN ('slow','big'))) THEN 'POS'
                    WHEN len(list_filter({_TOKS}, t -> t IN ('slow','big')))
                       > len(list_filter({_TOKS}, t -> t IN ('fast','small'))) THEN 'NEG'
                    ELSE 'NEU' END AS label
        FROM documents
        """,
        ("text", "udf"),
        "pandas_udf keyword sentiment (U1/U2 analog) vs pure-SQL oracle",
    ))
    s.append(QuerySpec(
        "absa_aspect_sentiments",
        # the reference's DISTINCTIVE output shape: one sentiment label
        # per fixed aspect with an explicit absent class
        # (absa_results(ReviewText, Price, ..., Others)); deterministic
        # windowed keyword semantics so the oracle replays it exactly
        lambda sp, d: sentiment.aspect_sentiments(_t(sp, d, "documents")),
        sentiment.aspect_sentiments_sql(),
        ("text", "sentiment", "absa"),
        "aspect-based sentiment: per-aspect POS/NEG/NEU/ABSENT label "
        "columns from windowed opinion-keyword counts (absa_results "
        "table shape, consumer_postgres_streaming.py:419-432)",
    ))

    s.append(QuerySpec(
        "sentiment_distribution",
        lambda sp, d: sentiment.sentiment_distribution(_t(sp, d, "documents")),
        f"""
        SELECT lang, label, COUNT(*) AS n FROM (
          SELECT lang,
                 CASE WHEN len(list_filter({_TOKS}, t -> t IN ('fast','small')))
                         > len(list_filter({_TOKS}, t -> t IN ('slow','big'))) THEN 'POS'
                      WHEN len(list_filter({_TOKS}, t -> t IN ('slow','big')))
                         > len(list_filter({_TOKS}, t -> t IN ('fast','small'))) THEN 'NEG'
                      ELSE 'NEU' END AS label
          FROM documents) t
        GROUP BY lang, label
        """,
        ("text", "udf", "agg"),
        "sentiment histogram per language (streamlit_app.py:76-81 analog)",
    ))
    s.append(QuerySpec(
        "language_id",
        lambda sp, d: text.detect_language(_t(sp, d, "documents")),
        # The heuristic is deterministic (stopword-hit counts, CJK
        # codepoint test, profile-order tie-break) — fully replayable
        # in SQL. CASE order == Python dict iteration order: a later
        # language wins only on STRICTLY more hits.
        r"""
        WITH t AS (
          SELECT doc_id, lang, text,
                 list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS ws
          FROM documents),
        h AS (
          SELECT doc_id, lang, text,
                 len(list_filter(ws, w -> w IN ('the','and','of','is','to'))) AS en,
                 len(list_filter(ws, w -> w IN ('le','la','et','les','des'))) AS fr,
                 len(list_filter(ws, w -> w IN ('der','die','und','das','ein'))) AS de,
                 len(list_filter(ws, w -> w IN ('el','la','los','que','de'))) AS es
          FROM t)
        SELECT doc_id, lang,
               CASE WHEN text IS NULL OR text = '' THEN 'und'
                    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN GREATEST(en, fr, de, es) = 0 THEN 'und'
                    WHEN en = GREATEST(en, fr, de, es) THEN 'en'
                    WHEN fr = GREATEST(en, fr, de, es) THEN 'fr'
                    WHEN de = GREATEST(en, fr, de, es) THEN 'de'
                    ELSE 'es' END AS lang_pred
        FROM h
        """,
        ("text", "udf"),
        "language-ID heuristic over text column",
    ))

    # ---- dedup (north star) ---------------------------------------------
    s.append(QuerySpec(
        "dedup_exact",
        lambda sp, d: dedup_exact_mod.dedup_exact(_t(sp, d, "documents")),
        f"""
        SELECT MIN(doc_id) AS doc_id, {_FP} AS fp, COUNT(*) AS n_copies
        FROM documents GROUP BY fp
        """,
        ("dedup",),
        "exact dedup by md5 fingerprint of normalized text",
    ))
    s.append(QuerySpec(
        "dedup_stats_by_lang",
        lambda sp, d: dedup_exact_mod.dedup_stats_by_lang(_t(sp, d, "documents")),
        f"""
        SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT {_FP}) AS n_unique,
               {round_det_sql("1 - COUNT(DISTINCT " + _FP + ") * 1.0 / COUNT(*)", 4)} AS dup_rate
        FROM documents GROUP BY lang
        """,
        ("dedup", "agg"),
        "dedup-rate rollup per language",
    ))
    s.append(QuerySpec(
        "minhash_near_duplicates",
        # vocab_rank mode: engine-independent token ids so the DuckDB
        # oracle can replay the exact pipeline (production default is
        # xxhash ids — same plan shape, no vocabulary pass).
        lambda sp, d: minhash.near_duplicates(
            _t(sp, d, "documents"), use_vocab_ranks=True
        ),
        f"""
        WITH {_MINHASH_CTES}
        {_MINHASH_PAIRS}
        """,
        ("dedup", "lsh"),
        "MinHash+LSH near-dup: banding candidates, exact-Jaccard verify",
    ))
    s.append(QuerySpec(
        "minhash_near_duplicates_prod",
        # PRODUCTION default: xxhash64 token ids — no vocabulary pass,
        # no global rank, the only mode that scales to 100 TB. The
        # verify stage is the same exact-Jaccard filter, so every
        # emitted pair is a true >= threshold pair; only LSH candidate
        # RECALL depends on the hash family, which is why this mode is
        # rows-only (the engine-replayable vocab twin above is the
        # hash-checked one) and why the bench must measure THIS plan:
        # it is the one users run.
        lambda sp, d: minhash.near_duplicates(_t(sp, d, "documents")),
        None,
        ("dedup", "lsh", "production"),
        "MinHash+LSH near-dup, production xxhash64 ids (no vocab pass)",
    ))
    s.append(QuerySpec(
        "dedup_cluster_assignment",
        # The full dedup answer: verified near-dup pairs (same
        # vocab-rank MinHash pipeline as above) → connected components
        # → keep exactly the min-doc_id representative per cluster.
        # Spark side: iterative min-label propagation
        # (dedup/cluster.py) over near_duplicate_edges — star edges
        # per exact-dup clique plus rep-level verified pairs, Σk rows
        # instead of the report's Σk² clique expansion; the components
        # (and so this query's output) are identical by construction.
        # Oracle side: recursive transitive closure over the full
        # quadratic pair set — closure is connectivity-invariant, so
        # the two sides still hash-match.
        _on_docs(
            cluster.dedup_cluster_assignment,
            lambda docs: minhash.near_duplicate_edges(docs, use_vocab_ranks=True),
        ),
        f"""
        WITH RECURSIVE {_MINHASH_CTES},
        pairs AS ({_MINHASH_PAIRS}),
        sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach)
        SELECT node AS doc_id, MIN(reach) AS cluster_id,
               (node = MIN(reach)) AS keep
        FROM walk GROUP BY node
        """,
        ("dedup", "cluster", "flagship"),
        "near-dup pairs → connected components → canonical doc per cluster",
    ))
    s.append(QuerySpec(
        "dedup_cluster_assignment_prod",
        # PRODUCTION closure: the same star-contraction connected
        # components over the xxhash64 edge feed — no vocabulary pass,
        # the plan a real 100 TB dedup runs (and therefore the plan
        # the bench must price; the vocab twin above exists for
        # hash-checkability). Rows-only for the same reason as
        # minhash_near_duplicates_prod: every emitted edge is an
        # exact-Jaccard-verified true pair, only LSH candidate RECALL
        # depends on the hash family, so the component PARTITION can
        # differ from the vocab mode only where LSH banding luck
        # differs — parity on a planted-duplicate corpus is
        # property-tested (tests/test_dedup_cluster.py).
        _on_docs(cluster.dedup_cluster_assignment, minhash.near_duplicate_edges),
        None,
        ("dedup", "cluster", "production"),
        "production closure: xxhash64 edge feed → star-contraction CC",
    ))
    # Winnowing fingerprint CTEs — shared by the per-doc summary and
    # the overlap-pairs query so the fingerprint set can't drift.
    # The k-gram hash indexes a pre-split CHAR LIST (c[i+j]), never the
    # string (t[i+j]): DuckDB VARCHAR indexing is O(i) per access, so
    # the string form is O(len²) per document — measured 15 s at
    # 160 kB, i.e. days at the 10 MB giant-doc tier the round-9 skewed
    # corpus carries. List element access is O(1); the char-list form
    # is linear (0.24 s per 640 kB) and hash-identical (t is pure
    # printable ASCII after the strip, so length(t) = len(c) and
    # ord(c[i]) = ord(t[i])).
    _WINNOW_CTES = """docs AS (
          SELECT doc_id, t, string_split(t, '') AS c FROM (
            SELECT doc_id,
                   lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
            FROM documents)),
        hashes AS (
          SELECT doc_id, u.s.pos AS pos, u.s.h AS h
          FROM (SELECT doc_id, unnest([{'pos': i,
                 'h': CAST(ord(c[i+1]) AS BIGINT) * 27512614111
                    + CAST(ord(c[i+2]) AS BIGINT) * 887503681
                    + CAST(ord(c[i+3]) AS BIGINT) * 28629151
                    + CAST(ord(c[i+4]) AS BIGINT) * 923521
                    + CAST(ord(c[i+5]) AS BIGINT) * 29791
                    + CAST(ord(c[i+6]) AS BIGINT) * 961
                    + CAST(ord(c[i+7]) AS BIGINT) * 31
                    + CAST(ord(c[i+8]) AS BIGINT)}
                 for i in range(0, length(t) - 7)]) AS s
                FROM docs WHERE length(t) >= 8) u),
        wmin AS (
          SELECT doc_id,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
          FROM hashes),
        fps AS (SELECT DISTINCT doc_id, wm AS fp FROM wmin)"""

    s.append(QuerySpec(
        "winnowing_fingerprints",
        lambda sp, d: winnow.winnowing_fingerprints(_t(sp, d, "documents")),
        f"""
        WITH {_WINNOW_CTES}
        SELECT doc_id, COUNT(fp) AS n_fingerprints,
               MIN(fp) AS min_fp, MAX(fp) AS max_fp
        FROM fps GROUP BY doc_id
        """,
        ("dedup", "fingerprint"),
        "winnowing rolling-hash fingerprints (substring-level dedup key)",
    ))
    s.append(QuerySpec(
        "winnowing_overlap_pairs",
        lambda sp, d: winnow.overlap_pairs(_t(sp, d, "documents")),
        f"""
        WITH {_WINNOW_CTES}
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 20
        """,
        ("dedup", "fingerprint"),
        "substring-level near-dup pairs via shared winnowing fingerprints",
    ))
    s.append(QuerySpec(
        "containment_pairs",
        # Asymmetric excerpt/quote detection: containment = shared /
        # |own fingerprint set| per direction — catches a small doc
        # embedded in a big one (Jaccard ≈ 0 there). Filter on the raw
        # IEEE division in BOTH engines; round only for output.
        lambda sp, d: winnow.containment_pairs(_t(sp, d, "documents")),
        f"""
        WITH {_WINNOW_CTES},
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM fps GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        SELECT id1, id2, n_shared,
               {round_det_sql("n_shared * 1.0 / s1.sz", 4)} AS containment1,
               {round_det_sql("n_shared * 1.0 / s2.sz", 4)} AS containment2
        FROM shared
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE greatest(n_shared * 1.0 / s1.sz, n_shared * 1.0 / s2.sz) >= 0.8
        """,
        ("dedup", "fingerprint", "containment"),
        "asymmetric containment pairs (excerpt detection, Jaccard-blind case)",
    ))
    s.append(QuerySpec(
        "winnowing_pairs_capped",
        # The adversarial-skew guard: buckets hotter than 50 docs are
        # dropped before the self-join. The cap is a deterministic
        # filter, so the recall trade is oracle-checkable.
        lambda sp, d: winnow.overlap_pairs(
            _t(sp, d, "documents"), max_bucket=50),
        f"""
        WITH {_WINNOW_CTES},
        cold AS (
          SELECT doc_id, fp FROM fps
          QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 50)
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
        FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 20
        """,
        ("dedup", "fingerprint", "skew"),
        "hot-bucket-capped winnowing pairs (bounded Σ bucket² join cost)",
    ))
    s.append(QuerySpec(
        "winnowing_cluster_assignment",
        # Same connected-components operator, different pair
        # generator: substring-level clusters from winnowing overlaps.
        # Demonstrates the closure is generic over any verified edge
        # list (MinHash, winnowing, embedding-LSH, ...).
        # auto-routed closure feed (round-6): probes the exact-dup
        # collapse ratio, takes the Σk star-edge feed when
        # collapse bites (dup-heavy corpus) and the pair report
        # otherwise (measured 1.4× faster on THIS no-exact-dup
        # corpus); components — and so this query's output and
        # oracle hash — are identical either way
        _on_docs(cluster.dedup_cluster_assignment, winnow.closure_pairs_auto),
        f"""
        WITH RECURSIVE {_WINNOW_CTES},
        pairs AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach)
        SELECT node AS doc_id, MIN(reach) AS cluster_id,
               (node = MIN(reach)) AS keep
        FROM walk GROUP BY node
        """,
        ("dedup", "cluster", "fingerprint"),
        "substring-level dedup clusters (winnowing pairs → components)",
    ))
    s.append(QuerySpec(
        "dedup_kept_corpus",
        # auto-routed closure feed: see winnowing_cluster_assignment
        _on_docs(cluster.kept_corpus_stats, winnow.closure_pairs_auto),
        f"""
        WITH RECURSIVE {_WINNOW_CTES},
        pairs AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
        verdicts AS (
          SELECT node AS doc_id, (node = MIN(reach)) AS keep
          FROM walk GROUP BY node)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
                 AS kept_chars
        FROM documents JOIN verdicts USING (doc_id)
        GROUP BY lang
        """,
        ("dedup", "cluster", "flagship"),
        "the dedup action: drop non-canonical docs, per-lang survival stats",
    ))
    s.append(QuerySpec(
        "curated_corpus",
        # auto-routed closure feed: see winnowing_cluster_assignment
        _on_docs(text.curated_corpus, winnow.closure_pairs_auto),
        f"""
        WITH RECURSIVE {_WINNOW_CTES},
        pairs AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
        verdicts AS (
          SELECT node AS doc_id, (node = MIN(reach)) AS keep
          FROM walk GROUP BY node),
        toks AS (
          SELECT doc_id, lang, CAST(len({_TOKS}) AS INTEGER) AS n_tok
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN keep AND n_tok >= 30 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_curated,
               CAST(SUM(CASE WHEN keep AND n_tok >= 30 THEN n_tok ELSE 0 END)
                    AS BIGINT) AS curated_tokens
        FROM toks JOIN verdicts USING (doc_id)
        GROUP BY lang
        """,
        ("text", "dedup", "flagship"),
        "end-to-end curation: dedup verdicts ∩ quality gate, per-lang budget",
    ))
    s.append(QuerySpec(
        "lsh_recall_report",
        lambda sp, d: minhash.lsh_recall_report(_t(sp, d, "documents")),
        f"""
        WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
        toks AS (
          SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM sub),
        vocab AS (
          SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS tok_id
          FROM (SELECT DISTINCT tok FROM toks) v),
        tt AS (SELECT doc_id, tok_id FROM toks JOIN vocab USING (tok)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tt GROUP BY doc_id),
        inter AS (
          SELECT t1.doc_id AS id1, t2.doc_id AS id2, COUNT(*) AS n
          FROM tt t1 JOIN tt t2 ON t1.tok_id = t2.tok_id
                                AND t1.doc_id < t2.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT id1, id2 FROM inter
          JOIN sizes s1 ON s1.doc_id = id1
          JOIN sizes s2 ON s2.doc_id = id2
          WHERE n * 1.0 / (s1.sz + s2.sz - n) >= 0.8),
        sigs AS (
          SELECT doc_id,
                 MIN((3*tok_id+1)%8191)    AS h0,  MIN((5*tok_id+2)%8191)    AS h1,
                 MIN((7*tok_id+4)%8191)    AS h2,  MIN((11*tok_id+8)%8191)   AS h3,
                 MIN((13*tok_id+16)%8191)  AS h4,  MIN((17*tok_id+32)%8191)  AS h5,
                 MIN((19*tok_id+64)%8191)  AS h6,  MIN((23*tok_id+128)%8191) AS h7,
                 MIN((29*tok_id+256)%8191) AS h8,  MIN((31*tok_id+512)%8191) AS h9,
                 MIN((37*tok_id+1024)%8191) AS h10, MIN((41*tok_id+2048)%8191) AS h11
          FROM tt GROUP BY doc_id),
        bands AS (
          SELECT doc_id, 0 AS band, concat_ws('_', h0, h1, h2, h3) AS sig FROM sigs
          UNION ALL
          SELECT doc_id, 1, concat_ws('_', h4, h5, h6, h7) FROM sigs
          UNION ALL
          SELECT doc_id, 2, concat_ws('_', h8, h9, h10, h11) FROM sigs),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                                   AND a.doc_id < b.doc_id),
        found AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
        SELECT (SELECT COUNT(*) FROM truth) AS n_true,
               (SELECT COUNT(*) FROM cand) AS n_candidates,
               (SELECT COUNT(*) FROM found) AS n_found,
               {round_det_sql(
                   "(SELECT COUNT(*) FROM found) * 1.0"
                   " / (SELECT COUNT(*) FROM truth)", 4)} AS recall,
               {round_det_sql(
                   "(SELECT COUNT(*) FROM found) * 1.0"
                   " / (SELECT COUNT(*) FROM cand)", 4)} AS candidate_precision
        """,
        ("dedup", "minhash", "evaluation"),
        "LSH banding audit: exact all-pairs truth vs band candidates on "
        "a bounded kernel — recall/precision of the (12,3) config",
    ))
    s.append(QuerySpec(
        "data_card_report",
        lambda sp, d: text.data_card_report(_t(sp, d, "documents")),
        f"""
        WITH t AS (SELECT source, lang, {_TOKS} AS toks FROM documents),
        q AS (
          SELECT source, lang,
                 CAST(len(toks) AS INTEGER) AS n_tok,
                 len(list_distinct(toks)) * 1.0 / len(toks) AS diversity
          FROM t)
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               {avg_sql("diversity", "mean_diversity", 4)},
               {round_det_sql(
                   "SUM(CASE WHEN n_tok >= 30 AND diversity >= 0.3"
                   " THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 4)} AS pass_pct,
               CAST(SUM(CASE WHEN n_tok >= 30 AND diversity >= 0.3
                             THEN n_tok ELSE 0 END) AS BIGINT)
                 AS curated_tokens
        FROM q GROUP BY 1, 2
        """,
        ("text", "governance"),
        "per-(source, lang) data card: volume, token budget, quality "
        "distribution, gate pass-rate",
    ))
    s.append(QuerySpec(
        "ngram_jaccard_pairs",
        lambda sp, d: ngram.pairwise_jaccard(_t(sp, d, "documents")),
        f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 30),
        sh AS (
          SELECT doc_id, list_distinct(
            [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             for i in range(1, len(toks) - 1)]) AS gs
          FROM t),
        tt AS (SELECT doc_id, unnest(gs) AS g FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tt GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n
          FROM tt a JOIN tt b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id1, id2, (CAST(CASE WHEN (n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 >= 0 THEN FLOOR((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 + 0.5) ELSE CEIL((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 - 0.5) END AS DOUBLE) / 10000.0) AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE (CAST(CASE WHEN (n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 >= 0 THEN FLOOR((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 + 0.5) ELSE CEIL((n * 1.0 / (s1.sz + s2.sz - n)) * 10000.0 - 0.5) END AS DOUBLE) / 10000.0) > 0.0
        """,
        ("dedup", "ngram"),
        "exact n-gram shingle Jaccard (bounded verification kernel)",
    ))
    s.append(QuerySpec(
        "simhash_near_duplicates",
        lambda sp, d: simhash.near_duplicates(_t(sp, d, "documents")),
        None,  # xxhash64-based — Spark-internal hash; property-tested instead
        ("dedup", "simhash"),
        "banded 64-bit SimHash near-dup pairs",
    ))
    s.append(QuerySpec(
        "exact_jaccard_pairs",
        # Prefix-filtered set-similarity self-join (SSJoin/PPJoin-lite):
        # the EXACT, LSH-free dedup path — zero recall loss, so the
        # oracle is the brute-force all-pairs join and equality is the
        # algorithm's correctness proof, not a replay.
        lambda sp, d: ssjoin.exact_jaccard_pairs(_t(sp, d, "documents")),
        f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
          FROM documents),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id1, id2,
               {round_det_sql("n * 1.0 / (s1.sz + s2.sz - n)", 4)} AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE n * 1.0 / (s1.sz + s2.sz - n) >= 0.8
        """,
        ("dedup", "ssjoin", "exact"),
        "exact set-similarity join via prefix filtering (no recall loss)",
    ))
    s.append(QuerySpec(
        "incremental_dedup_new_docs",
        # The daily-ingest shape: new batch vs existing corpus only —
        # the corpus×corpus quadrant is never generated. Exact prefix
        # filtering (shared full-collection token order), so the
        # brute-force new×corpus join is the oracle and equality
        # proves zero recall loss on the asymmetric path too.
        lambda sp, d: ssjoin.incremental_jaccard_pairs(
            _t(sp, d, "documents")
        ),
        f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
          FROM documents),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS n
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
          GROUP BY 1, 2)
        SELECT new_id, corpus_id,
               {round_det_sql("n * 1.0 / (s1.sz + s2.sz - n)", 4)} AS jaccard
        FROM inter
        JOIN sizes s1 ON s1.doc_id = new_id
        JOIN sizes s2 ON s2.doc_id = corpus_id
        WHERE n * 1.0 / (s1.sz + s2.sz - n) >= 0.8
        """,
        ("dedup", "ssjoin", "incremental"),
        "incremental-ingest dedup: new batch vs corpus, exact "
        "asymmetric prefix-filter join",
    ))
    s.append(QuerySpec(
        "simhash_checked_near_duplicates",
        # Same banding/rep-collapse pipeline, but the per-token bit
        # family is exact integer SQL over the sorted-vocabulary rank
        # (like MinHash's vocab_rank mode) — so the ENTIRE SimHash
        # construction is value-hash-checked against DuckDB; only the
        # production xxhash64 token hash stays rows-only.
        lambda sp, d: simhash.near_duplicates(
            _t(sp, d, "documents"), checked=True
        ),
        simhash.oracle_sql_checked(_TOKS),
        ("dedup", "simhash"),
        "oracle-replayable SimHash (vocab-rank bit family), hash-checked",
    ))

    # ---- similarity search (north star) ---------------------------------
    cos_e_q = _cos_sql("embedding", "qe")
    s.append(QuerySpec(
        "knn_cosine_topk",
        lambda sp, d: knn.cosine_topk(_t(sp, d, "embeddings")),
        f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, label, {round_det_sql(cos_e_q, 4)} AS cos_sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        ("similarity", "knn"),
        "brute-force cosine top-k (broadcast query vector)",
    ))
    cos_ab = _cos_sql("a.embedding", "b.embedding")
    s.append(QuerySpec(
        "embedding_near_duplicates",
        lambda sp, d: knn.blocked_near_duplicates(_t(sp, d, "embeddings")),
        f"""
        SELECT a.label AS label, a.vec_id AS id1, b.vec_id AS id2,
               {round_det_sql(cos_ab, 4)} AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {round_det_sql(cos_ab, 4)} >= 0.35
        """,
        ("similarity", "dedup"),
        "label-blocked embedding-cosine near-dup pairs",
    ))
    cos_e_c = _cos_sql("e.embedding", "c.c")
    cos_c_q = _cos_sql("c.c", "qe")
    s.append(QuerySpec(
        "ivf_topk",
        lambda sp, d: knn.ivf_topk(_t(sp, d, "embeddings")),
        f"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS c FROM embeddings
          WHERE vec_id < 8),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        ac AS (
          SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
                 {cos_e_c} AS cos_c
          FROM embeddings e, cent c),
        assigned AS (
          SELECT vec_id, label, embedding, centroid_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY cos_c DESC, centroid_id) AS rn
            FROM ac) t WHERE rn = 1),
        probe AS (
          SELECT centroid_id FROM (
            SELECT c.centroid_id, {cos_c_q} AS cos_q FROM cent c, q) t
          ORDER BY cos_q DESC, centroid_id LIMIT 2)
        SELECT vec_id, label, centroid_id,
               {round_det_sql(cos_e_q, 4)} AS cos_sim
        FROM assigned JOIN probe USING (centroid_id), q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        ("similarity", "knn", "ivf"),
        "IVF top-k: nearest-centroid partitions, nprobe=2",
    ))
    def _ivf_indexed(sp: SparkSession, d: str) -> DataFrame:
        emb = _t(sp, d, "embeddings")
        index_dir = os.path.join(scratch_dir("bdes_ivf_"), "index")
        knn.ivf_build(emb, index_dir)
        return knn.ivf_topk_indexed(emb, index_dir)

    s.append(QuerySpec(
        "ivf_indexed_topk",
        _ivf_indexed,
        f"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS c FROM embeddings
          WHERE vec_id < 8),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        ac AS (
          SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
                 {_cos_sql("e.embedding", "c.c")} AS cos_c
          FROM embeddings e, cent c),
        assigned AS (
          SELECT vec_id, label, embedding, centroid_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY cos_c DESC, centroid_id) AS rn
            FROM ac) t WHERE rn = 1),
        probe AS (
          SELECT centroid_id FROM (
            SELECT c.centroid_id, {_cos_sql("c.c", "qe")} AS cos_q FROM cent c, q) t
          ORDER BY cos_q DESC, centroid_id LIMIT 2)
        SELECT vec_id, label, centroid_id,
               {round_det_sql(_cos_sql("embedding", "qe"), 4)} AS cos_sim
        FROM assigned JOIN probe USING (centroid_id), q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 10
        """,
        ("similarity", "knn", "ivf", "sink"),
        "IVF with write-time partitionBy(centroid_id) index: probe reads "
        "only matching partitions (PartitionFilters pruning)",
    ))

    s.append(QuerySpec(
        "embedding_lsh_near_duplicates",
        lambda sp, d: lsh.near_duplicates(_t(sp, d, "embeddings")),
        lsh.oracle_sql(),
        ("similarity", "lsh", "dedup"),
        "random-hyperplane LSH near-dup — label-free scale path; "
        "deterministic hyperplanes replayed literally in the oracle",
    ))
    _Z = "(e.value - r.mean_value) / r.stddev_value"
    s.append(QuerySpec(
        "anomaly_events",
        lambda sp, d: agg.anomaly_events(_t(sp, d, "events")),
        f"""
        WITH m AS (
          SELECT event_type, COUNT(value) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) AS sxx
          FROM events GROUP BY event_type),
        r AS (
          SELECT event_type,
                 {round_det_sql("sx / n", 4)} AS mean_value,
                 {round_det_sql("sqrt((sxx - sx * sx / n) / (n - 1))", 4)}
                   AS stddev_value
          FROM m)
        SELECT e.event_id, e.event_type, e.value,
               {round_det_sql(_Z, 4)} AS zscore
        FROM events e JOIN r USING (event_type)
        WHERE {round_det_sql(_Z, 4)} > 3.0
        """,
        ("agg", "anomaly"),
        "z-score outliers per group; rounded stats make the flag "
        "decision itself engine-deterministic",
    ))
    s.append(QuerySpec(
        "event_transition_matrix",
        lambda sp, d: sequences.event_transition_matrix(_t(sp, d, "events")),
        f"""
        WITH p AS (
          SELECT user_id, event_type,
                 LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_type
          FROM events),
        c AS (
          SELECT prev_type, event_type, COUNT(*) AS n_transitions
          FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        SELECT prev_type, event_type, n_transitions,
               {round_det_sql(
                   "n_transitions * 1.0 / SUM(n_transitions)"
                   " OVER (PARTITION BY prev_type)", 4)} AS prob
        FROM c
        """,
        ("sequence", "markov"),
        "first-order Markov transition matrix over per-user event streams",
    ))
    s.append(QuerySpec(
        "common_event_paths",
        lambda sp, d: sequences.common_event_paths(_t(sp, d, "events")),
        """
        WITH stepped AS (
          SELECT event_type AS e1,
                 LEAD(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS e2,
                 LEAD(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS e3
          FROM events)
        SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n_paths
        FROM stepped WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1 ORDER BY n_paths DESC, path ASC LIMIT 20
        """,
        ("sequence", "paths"),
        "top 3-step event paths (deterministic tie-broken top-k)",
    ))
    s.append(QuerySpec(
        "ngram_novelty",
        # Corpus-order novelty: fraction of a doc's distinct trigrams
        # first seen IN this doc — dedup-aware curriculum signal.
        lambda sp, d: text.ngram_novelty(_t(sp, d, "documents")),
        f"""
        WITH w AS (SELECT doc_id, lang, {_TOKS} AS ws FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, lang, g FROM (
            SELECT doc_id, lang,
                   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           for i in range(1, len(ws) - 1)]) AS g
            FROM w WHERE len(ws) >= 3) u),
        firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
        SELECT doc_id, lang, COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               {round_det_sql(
                   "SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                   " * 1.0 / COUNT(*)", 4)} AS novelty
        FROM grams JOIN firsts USING (g)
        GROUP BY doc_id, lang
        """,
        ("text", "novelty"),
        "per-doc trigram novelty vs corpus first-occurrence order",
    ))
    s.append(QuerySpec(
        "cohort_retention",
        lambda sp, d: sequences.cohort_retention(_t(sp, d, "events")),
        """
        WITH f AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
          FROM events GROUP BY user_id)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, ts) // 7 AS INTEGER)
                 AS week_offset,
               COUNT(DISTINCT user_id) AS n_users
        FROM events JOIN f USING (user_id)
        GROUP BY 1, 2
        """,
        ("sequence", "cohort"),
        "weekly cohort retention matrix (first-touch week x offset)",
    ))
    s.append(QuerySpec(
        "supplier_cooccurrence",
        lambda sp, d: graph.supplier_cooccurrence(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")
        ),
        """
        WITH e AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_shared_customers
        FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ORDER BY n_shared_customers DESC, s1, s2 LIMIT 20
        """,
        ("graph", "cooccurrence"),
        "market-basket co-occurrence: supplier pairs sharing >= 2 customers "
        "(a-priori-pruned pair join)",
    ))
    from big_data_exercise_spark.operators.timeseries import WILSON_LOW

    s.append(QuerySpec(
        "referential_integrity_audit",
        lambda sp, d: sets.referential_integrity_audit(
            _t(sp, d, "orders"), _t(sp, d, "lineitem"), _t(sp, d, "customer")
        ),
        """
        -- NULL-FK policy pinned explicitly: a NULL FK is absent, not
        -- orphaned (and a NULL in a NOT IN subquery would otherwise
        -- vacuously zero the whole count)
        SELECT 'lineitem->orders' AS relationship, COUNT(*) AS n_orphans
        FROM lineitem WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'orders->customer', COUNT(*)
        FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        UNION ALL
        SELECT 'orders-without-lineitems', COUNT(*)
        FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey NOT IN
          (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL)
        """,
        ("set", "anti-join", "dq"),
        "foreign-key orphan audit via anti-joins (constant-size report)",
    ))
    s.append(QuerySpec(
        "activity_heatmap",
        # Weekday index as modulo-from-known-Monday arithmetic — the
        # only day-of-week convention both engines share (Spark
        # dayofweek is 1=Sunday, DuckDB's 0=Sunday, names are
        # locale-dependent).
        lambda sp, d: agg.activity_heatmap(_t(sp, d, "events")),
        f"""
        SELECT CAST(((date_diff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) % 7) + 7) % 7 AS INTEGER)
                 AS dow_monday0,
               CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
               COUNT(*) AS n_events,
               {sum_sql("value", "total_value")}
        FROM events GROUP BY 1, 2
        """,
        ("agg", "heatmap", "bi"),
        "weekday x hour activity matrix (engine-stable dow arithmetic)",
    ))
    s.append(QuerySpec(
        "winsorized_value_stats",
        lambda sp, d: agg.winsorized_value_stats(_t(sp, d, "events")),
        f"""
        WITH ranked AS (
          -- exact order statistic at rank ceil(p*n) (type-1 quantile):
          -- interpolated quantile_cont arithmetic differs from Spark's
          -- in the last ulp and flips boundary rows at scale (sf1)
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL),
        bands AS (
          SELECT event_type,
                 MAX(CASE WHEN rn = CAST(CEIL(n * 0.01) AS BIGINT)
                          THEN value END) AS lo,
                 MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT)
                          THEN value END) AS hi
          FROM ranked GROUP BY event_type),
        c AS (
          SELECT e.event_type, value, lo, hi,
                 LEAST(GREATEST(value, lo), hi) AS w_value
          FROM events e JOIN bands USING (event_type))
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN value <> w_value THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped,
               {round_det_sql("any_value(lo)", 4)} AS p01,
               {round_det_sql("any_value(hi)", 4)} AS p99,
               {sum_sql("value", "raw_sum")},
               {sum_sql("w_value", "winsorized_sum")}
        FROM c GROUP BY event_type
        """,
        ("agg", "robust", "training-prep"),
        "winsorization effect report (clip to [p01,p99], exact accounting)",
    ))
    s.append(QuerySpec(
        "doc_length_bands",
        lambda sp, d: agg.doc_length_bands(_t(sp, d, "documents")),
        f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               {round_det_sql("quantile_cont(n_chars, 0.25)", 2)} AS p25_chars,
               {round_det_sql("quantile_cont(n_chars, 0.5)", 2)} AS p50_chars,
               {round_det_sql("quantile_cont(n_chars, 0.75)", 2)} AS p75_chars,
               {round_det_sql("quantile_cont(n_chars, 0.95)", 2)} AS p95_chars
        FROM documents GROUP BY lang
        """,
        ("text", "quantile", "training-prep"),
        "per-language doc-length bands (corpus budget planning)",
    ))
    s.append(QuerySpec(
        "monthly_revenue_change",
        lambda sp, d: agg.monthly_revenue_change(_t(sp, d, "orders")),
        f"""
        WITH m AS (
          SELECT date_trunc('month', o_orderdate) AS month,
                 {sum_sql("o_totalprice", "revenue")}
          FROM orders GROUP BY 1),
        p AS (
          SELECT month, revenue,
                 LAG(revenue) OVER (ORDER BY month) AS prev_revenue
          FROM m)
        SELECT month, revenue, prev_revenue,
               {round_det_sql(
                   "(revenue - prev_revenue) / prev_revenue", 4)}
                 AS mom_change
        FROM p
        """,
        ("agg", "timeseries", "bi"),
        "month-over-month revenue change (lag over the month series)",
    ))
    s.append(QuerySpec(
        "key_skew_report",
        lambda sp, d: agg.key_skew_report(_t(sp, d, "events")),
        f"""
        WITH fu AS (
          SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS c
          FROM events GROUP BY 1),
        ft AS (
          SELECT event_type AS k, COUNT(*) AS c FROM events GROUP BY 1)
        SELECT 'user_id' AS key_column, COUNT(*) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(MAX(c) AS BIGINT) AS max_freq,
               {round_det_sql("MAX(c) * 1.0 / SUM(c)", 4)} AS top_share,
               {round_det_sql(
                   "quantile_cont(c, 0.99) / quantile_cont(c, 0.5)", 4)}
                 AS p99_p50_ratio
        FROM fu
        UNION ALL
        SELECT 'event_type', COUNT(*), CAST(SUM(c) AS BIGINT),
               CAST(MAX(c) AS BIGINT),
               {round_det_sql("MAX(c) * 1.0 / SUM(c)", 4)},
               {round_det_sql(
                   "quantile_cont(c, 0.99) / quantile_cont(c, 0.5)", 4)}
        FROM ft
        """,
        ("agg", "skew", "ops"),
        "join-key skew diagnostics (top share, p99/p50 frequency ratio)",
    ))
    s.append(QuerySpec(
        "top_types_with_other",
        lambda sp, d: agg.top_types_with_other(_t(sp, d, "events")),
        f"""
        WITH per_type AS (
          SELECT event_type, {sum_sql("value", "revenue")},
                 COUNT(*) AS n_events
          FROM events GROUP BY event_type),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            ORDER BY revenue DESC, event_type ASC) AS rk
          FROM per_type)
        SELECT CASE WHEN rk <= 3 THEN event_type ELSE 'Other' END AS label,
               {round_det_sql(
                   "CAST(SUM(CAST(revenue AS DECIMAL(30,8))) AS DOUBLE)", 2)}
                 AS revenue,
               CAST(SUM(n_events) AS BIGINT) AS n_events
        FROM ranked GROUP BY 1
        """,
        ("agg", "topk", "bi"),
        "top-k groups with 'Other' tail rollup (chart-ready shape)",
    ))
    s.append(QuerySpec(
        "daily_conversion_wilson",
        # The Wilson bound is ONE formula text parsed by both engines
        # → identical IEEE evaluation order (sqrt is correctly-rounded
        # by the standard).
        lambda sp, d: timeseries.daily_conversion_wilson(_t(sp, d, "events")),
        f"""
        WITH g AS (
          SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
                 COUNT(DISTINCT user_id) AS n_users,
                 COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                     THEN user_id END) AS n_converted
          FROM events GROUP BY 1),
        p AS (
          SELECT day, n_users, n_converted,
                 n_converted * 1.0 / n_users AS p,
                 CAST(n_users AS DOUBLE) AS nd
          FROM g)
        SELECT day, n_users, n_converted,
               {round_det_sql("p", 4)} AS conversion_rate,
               {round_det_sql(WILSON_LOW, 4)} AS wilson_low_95
        FROM p
        """,
        ("agg", "stats", "conversion"),
        "daily conversion with Wilson 95% lower bound (shared formula text)",
    ))
    s.append(QuerySpec(
        "session_bounce_stats",
        lambda sp, d: timeseries.session_bounce_stats(_t(sp, d, "events")),
        f"""
        WITH o AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           IS NULL
                        OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          -- session_window() drops NULL event times (an event with no
          -- time cannot be sessionized) — the lag-based replay must
          -- drop them too (round-8 NULL-ts probe)
          FROM events WHERE ts IS NOT NULL),
        s AS (
          SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o),
        sess AS (
          SELECT CAST(CAST(MIN(ts) AS DATE) AS TIMESTAMP) AS day,
                 COUNT(*) AS n_events
          FROM s GROUP BY user_id, sid)
        SELECT day, COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounces,
               {round_det_sql(
                   "SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
                   " * 1.0 / COUNT(*)", 4)} AS bounce_rate
        FROM sess GROUP BY day
        """,
        ("sequence", "session", "bounce"),
        "daily session bounce rate (single-event sessions share)",
    ))
    s.append(QuerySpec(
        "value_equiwidth_histogram",
        lambda sp, d: agg.value_equiwidth_histogram(_t(sp, d, "events")),
        """
        WITH binned AS (
          SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bin FROM events),
        raw_counts AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin),
        bounds AS (SELECT MIN(bin) AS b0, MAX(bin) AS b1 FROM binned),
        counts AS (
          SELECT LEAST(bin, b0 + 99999) AS bin, SUM(n) AS n
          FROM raw_counts, bounds GROUP BY 1),
        grid AS (SELECT unnest(generate_series(b0, LEAST(b1, b0 + 99999)))
                   AS bin FROM bounds)
        SELECT g.bin, g.bin * 50.0 AS bin_start,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_events
        FROM grid g LEFT JOIN counts c ON c.bin = g.bin
        """,
        ("agg", "histogram"),
        "equi-width value histogram, empty interior bins materialized, "
        "grid capped at 100k bins (outlier overflow bucket)",
    ))
    s.append(QuerySpec(
        "rfm_segments",
        lambda sp, d: agg.rfm_segments(_t(sp, d, "orders")),
        f"""
        WITH cust AS (
          SELECT o_custkey,
                 date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                           DATE '2002-01-01') AS recency_days,
                 COUNT(*) AS frequency,
                 {sum_sql("o_totalprice", "monetary")}
          FROM orders GROUP BY o_custkey),
        scored AS (
          -- NULLS placement pinned to Spark's defaults (asc = NULLS
          -- FIRST, desc = NULLS LAST) — DuckDB defaults are the exact
          -- opposite on BOTH directions, so an all-NULL-date or
          -- all-NULL-price customer flipped quartiles (round-8
          -- NULL-dirt fuzz finding)
          SELECT o_custkey, monetary,
                 NTILE(4) OVER (ORDER BY recency_days ASC NULLS FIRST,
                                o_custkey NULLS FIRST) AS r,
                 NTILE(4) OVER (ORDER BY frequency DESC NULLS LAST,
                                o_custkey NULLS FIRST) AS f,
                 NTILE(4) OVER (ORDER BY monetary DESC NULLS LAST,
                                o_custkey NULLS FIRST) AS m
          FROM cust)
        SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
                 AS segment,
               COUNT(*) AS n_customers,
               {round_det_sql(
                   "CAST(SUM(CAST(monetary AS DECIMAL(30,8))) AS DOUBLE)"
                   " / COUNT(*)", 2)} AS avg_monetary
        FROM scored GROUP BY 1
        """,
        ("agg", "rfm", "window"),
        "RFM quartile segmentation (fixed anchor, tie-broken ntile)",
    ))
    s.append(QuerySpec(
        "exact_value_quantiles",
        # Exact global quantiles of an unpartitioned column via the
        # distributed-rank helper — the scale path approx_percentile
        # approximates, done exactly; the oracle replays the identical
        # integer target-rank arithmetic with a window.
        lambda sp, d: agg.exact_value_quantiles(_t(sp, d, "events")),
        f"""
        -- quantiles are over NON-NULL values (percentile_cont
        -- semantics; also sidesteps the engines' opposite default
        -- NULL sort placement — Spark ASC is NULLS FIRST, DuckDB
        -- NULLS LAST; round-8 NULL-dirt fuzz finding)
        WITH o AS (
          SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk
          FROM events WHERE value IS NOT NULL),
        n AS (SELECT COUNT(value) AS n FROM events),
        q AS (SELECT * FROM (VALUES (25,100),(50,100),(75,100),(90,100),
                                    (99,100)) t(num, den))
        SELECT CAST(num AS DOUBLE) / den AS quantile,
               {round_det_sql("o.value", 2)} AS value
        FROM q, n, o WHERE o.rk = (n.n * num + den - 1) // den
        """,
        ("agg", "quantile", "distributed-rank"),
        "exact global percentiles via distributed rank (no global sort)",
    ))
    s.append(QuerySpec(
        "pareto_frontier_parts",
        # Skyline via ONE distributed exclusive running max over the
        # per-price maxima — no O(n²) dominance anti-join, no global
        # sort window; the oracle computes the same bound with a
        # ROWS UNBOUNDED..1 PRECEDING window.
        lambda sp, d: agg.pareto_frontier_parts(_t(sp, d, "part")),
        """
        -- NULL price/size rows excluded on both engines: dominance
        -- against a missing dimension is undefined (round-8 fuzz)
        WITH p0 AS (
          SELECT * FROM part
          WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        pm AS (
          SELECT p_retailprice AS price, MAX(p_size) AS msize
          FROM p0 GROUP BY 1),
        pf AS (
          SELECT price, MAX(msize) OVER (
            ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING) AS pmax
          FROM pm)
        SELECT p_partkey, p_retailprice AS price, p_size AS size
        FROM p0 JOIN pf ON p_retailprice = pf.price
        WHERE pmax IS NULL OR p_size > pmax
        """,
        ("agg", "skyline", "distributed-max"),
        "Pareto/skyline frontier (cheapest-dominant parts) via "
        "distributed exclusive running max",
    ))
    s.append(QuerySpec(
        "abc_revenue_classes",
        # Pareto/ABC with an integer-cents cumulative sum: running
        # double sums are re-association-sensitive across engines; the
        # integer sweep is exact under any association.
        lambda sp, d: agg.abc_revenue_classes(_t(sp, d, "orders")),
        f"""
        WITH rev AS (
          SELECT o_custkey, {sum_sql("o_totalprice", "rev")}
          FROM orders GROUP BY o_custkey),
        cents AS (
          SELECT o_custkey, CAST(FLOOR(rev * 100 + 0.5) AS BIGINT) AS c
          FROM rev),
        t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cents),
        ranked AS (
          SELECT o_custkey, c, SUM(c) OVER (
            ORDER BY c DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum
          FROM cents),
        classed AS (
          SELECT c, CASE WHEN cum * 1.0 / t.t <= 0.8 THEN 'A'
                         WHEN cum * 1.0 / t.t <= 0.95 THEN 'B'
                         ELSE 'C' END AS abc_class
          FROM ranked, t)
        SELECT abc_class, COUNT(*) AS n_customers,
               {round_det_sql("CAST(SUM(c) AS DOUBLE) / 100.0", 2)}
                 AS class_revenue
        FROM classed GROUP BY abc_class
        """,
        ("agg", "pareto", "window"),
        "ABC/Pareto revenue classes (integer-cents cumulative sweep)",
    ))
    s.append(QuerySpec(
        "association_rules",
        lambda sp, d: graph.association_rules(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")
        ),
        f"""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        nc AS (SELECT COUNT(DISTINCT c) AS n_customers FROM cs),
        ps AS (SELECT s, COUNT(*) AS cnt FROM cs GROUP BY s),
        pr AS (
          SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n12
          FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
          GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        SELECT s1, s2, n12,
               {round_det_sql("n12 * 1.0 / n_customers", 4)} AS support,
               {round_det_sql("n12 * 1.0 / p1.cnt", 4)} AS conf_1to2,
               {round_det_sql("n12 * 1.0 / p2.cnt", 4)} AS conf_2to1,
               {round_det_sql(
                   "(n12 * n_customers) * 1.0 / (p1.cnt * p2.cnt)", 4)}
                 AS lift
        FROM pr JOIN ps p1 ON p1.s = s1 JOIN ps p2 ON p2.s = s2, nc
        ORDER BY (n12 * n_customers) * 1.0 / (p1.cnt * p2.cnt) DESC, s1, s2
        LIMIT 15
        """,
        ("graph", "association"),
        "association rules: support/confidence/lift from exact counts",
    ))
    s.append(QuerySpec(
        "supplier_triangles",
        # Degree-ordered triangle counting: each triangle has exactly
        # one node with two outgoing oriented edges, so wedges never
        # fan out at high-degree hubs (out-degree O(sqrt m)).
        lambda sp, d: graph.supplier_triangles(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")
        ),
        f"""
        WITH cs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        edges AS (
          SELECT a.s AS u, b.s AS v
          FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
        oriented AS (
          SELECT s.u, s.v
          FROM sym s JOIN deg d1 ON d1.u = s.u JOIN deg d2 ON d2.u = s.v
          WHERE (d1.d, s.u) < (d2.d, s.v)),
        wedges AS (
          SELECT w1.v AS b, w2.v AS c
          FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u AND w1.v < w2.v),
        tri AS (
          SELECT COUNT(*) AS n_triangles
          FROM wedges JOIN (SELECT u AS x, v AS y FROM oriented
                            UNION ALL SELECT v, u FROM oriented) t
               ON b = t.x AND c = t.y),
        ec AS (SELECT COUNT(*) AS n_edges FROM edges),
        wc AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
               FROM deg)
        SELECT n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0
                    THEN {round_det_sql("3.0 * n_triangles / n_wedges", 4)}
                    ELSE NULL END AS clustering_coeff
        FROM ec, wc, tri
        """,
        ("graph", "triangles"),
        "strong-tie triangle census + clustering coefficient "
        "(degree-ordered orientation)",
    ))
    s.append(QuerySpec(
        "conversion_funnel",
        lambda sp, d: sequences.conversion_funnel(_t(sp, d, "events")),
        f"""
        WITH f AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
                 MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
          FROM events GROUP BY user_id),
        r AS (
          SELECT
            CAST(COUNT(CASE WHEN t0 IS NOT NULL THEN 1 END) AS BIGINT) AS s0,
            CAST(COUNT(CASE WHEN t0 IS NOT NULL AND t1 > t0
                       THEN 1 END) AS BIGINT) AS s1,
            CAST(COUNT(CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1
                       THEN 1 END) AS BIGINT) AS s2,
            CAST(COUNT(CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1
                            AND t3 > t2 THEN 1 END) AS BIGINT) AS s3
          FROM f),
        u AS (
          SELECT 0 AS stage_idx, 'signup' AS stage, s0 AS n_users, s0 FROM r
          UNION ALL SELECT 1, 'view', s1, s0 FROM r
          UNION ALL SELECT 2, 'click', s2, s0 FROM r
          UNION ALL SELECT 3, 'purchase', s3, s0 FROM r)
        SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage, n_users,
               {round_det_sql("n_users * 1.0 / s0", 4)} AS conv_pct
        FROM u
        """,
        ("sequence", "funnel"),
        "strict-order first-touch conversion funnel in one groupBy pass",
    ))
    s.append(QuerySpec(
        "scd2_intervals",
        lambda sp, d: sequences.scd2_intervals(_t(sp, d, "events")),
        """
        SELECT user_id, event_id,
               CAST(row_number() OVER w AS INTEGER) AS version,
               value, ts AS valid_from,
               LEAD(ts) OVER w AS valid_to,
               (LEAD(ts) OVER w IS NULL) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
        """,
        ("sequence", "cdc"),
        "event log -> SCD2 validity intervals (version/valid_from/valid_to)",
    ))
    s.append(QuerySpec(
        "ntile_histogram",
        lambda sp, d: windows.ntile_histogram(_t(sp, d, "events")),
        """
        WITH b AS (
          SELECT event_type, event_id, value,
                 -- NULLS FIRST pins the engines' opposite ASC
                 -- defaults (Spark first, DuckDB last): NULL-value
                 -- rows stay IN the histogram (standard NTILE) and
                 -- land in the lowest buckets on both engines
                 CAST(ntile(10) OVER (
                   PARTITION BY event_type
                   ORDER BY value NULLS FIRST, event_id)
                   AS INTEGER) AS bucket
          FROM events)
        SELECT event_type, bucket, COUNT(*) AS n_events,
               MIN(value) AS lo, MAX(value) AS hi
        FROM b GROUP BY 1, 2
        """,
        ("window", "histogram"),
        "per-group equi-height histogram via partitioned NTILE",
    ))
    s.append(QuerySpec(
        "snapshot_diff",
        lambda sp, d: sets.snapshot_diff(
            _t(sp, d, "customer"), sets.snapshot_mutate(_t(sp, d, "customer"))
        ),
        f"""
        WITH survivors AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
                      ELSE c_acctbal END AS n_bal
          FROM customer WHERE c_custkey % 13 <> 0),
        inserts AS (
          SELECT c_custkey + 1000000 AS c_custkey, c_acctbal AS n_bal
          FROM customer WHERE c_custkey % 17 = 0),
        ns AS (SELECT * FROM survivors UNION ALL SELECT * FROM inserts),
        j AS (
          -- null-safe update test: NULL vs non-NULL balance IS an
          -- update, NULL vs NULL is same (matches eqNullSafe in the
          -- operator; round-8 NULL-dirt fuzz finding)
          SELECT CASE WHEN b.c_custkey IS NULL THEN 'insert'
                      WHEN n.c_custkey IS NULL THEN 'delete'
                      WHEN b.c_acctbal IS DISTINCT FROM n.n_bal
                        THEN 'update'
                      ELSE 'same' END AS status,
                 ABS(COALESCE(n.n_bal, 0.0) - COALESCE(b.c_acctbal, 0.0))
                   AS drift
          FROM customer b FULL OUTER JOIN ns n ON b.c_custkey = n.c_custkey)
        SELECT status, COUNT(*) AS n_rows, {sum_sql("drift", "bal_drift")}
        FROM j GROUP BY status
        """,
        ("set", "cdc", "reconciliation"),
        "snapshot reconciliation: full-outer diff classified "
        "insert/delete/update/same with balance drift",
    ))
    s.append(QuerySpec(
        "zorder_curve",
        lambda sp, d: layout.zorder_curve(_t(sp, d, "events")),
        f"""
        WITH k AS (
          SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
                 CAST(FLOOR(value) AS BIGINT) AS vbucket
          FROM events)
        SELECT event_id, user_id, vbucket,
               {layout.zvalue_sql("user_id", "vbucket")} AS z
        FROM k ORDER BY z DESC, event_id LIMIT 50
        """,
        ("layout", "zorder"),
        "Morton z-value surface for multi-dimensional layout clustering",
    ))
    s.append(QuerySpec(
        "pagerank_trade",
        lambda sp, d: graph.pagerank(
            graph.trade_edges(_t(sp, d, "orders"), _t(sp, d, "lineitem"))
        ),
        graph.pagerank_sql(),
        ("graph", "iterative"),
        "scaled-integer PageRank over the customer-supplier trade graph; "
        "the oracle unrolls the power iteration",
    ))
    s.append(QuerySpec(
        "knn_batch_topk",
        lambda sp, d: knn.cosine_topk_batch(_t(sp, d, "embeddings")),
        f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id < 8),
        sc AS (
          SELECT q.query_id, e.vec_id, e.label,
                 {round_det_sql(_cos_sql("e.embedding", "q.qe"), 4)} AS cos_sim
          FROM embeddings e, q WHERE e.vec_id <> q.query_id)
        SELECT query_id, vec_id, label, cos_sim, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
              FROM sc) t
        WHERE rn <= 5
        """,
        ("similarity", "knn", "batch"),
        "batched exact ANN: top-5 per query for a broadcast query set",
    ))
    s.append(QuerySpec(
        "pq_topk",
        # Training and encode assign (vid, sub) -> cid with the
        # broadcast-codebook Arrow kernel instead of the kcent x
        # join-fan-out relational form. Round-12 quiet interleaved
        # A/B (best-of-N, kernel vs relational): 1.11x at 32 cores /
        # 1.22x at 8 for this toy config, 1.33x / 1.81x for the PQ64
        # production config (OPTIMIZATION_r12.md). Bit-identical by
        # construction AND by test
        # (test_pq_arrow_kernel_bit_identical_and_cap_wiring, ragged
        # rows included); the oracle SQL below unrolls the relational
        # definition, so the hash check is a true cross-engine,
        # cross-algorithm comparison.
        lambda sp, d: pq.pq_topk(_t(sp, d, "embeddings")),
        pq.pq_sql(),
        ("similarity", "pq", "ann"),
        "product-quantization ANN: per-sub-space integer Lloyd codebooks, "
        "broadcast ADC lookup-table scoring over the code table, "
        "partition-local shortlist, exact integer-L2 re-rank — the memory "
        "scale path (codes ≪ vectors); oracle unrolls the whole pipeline",
    ))
    s.append(QuerySpec(
        "pq_topk_prod",
        # PRODUCTION default: PQ64 (m=8 sub-spaces x 256 centroids =
        # one byte per sub-space), the config a user should actually
        # call — measured recall@10 = 0.994 (min 0.9) at sf0.1 vs
        # exact integer-L2 truth (tools/ann_recall.py; the oracle
        # config above measures 0.20 — it exists to hash-check the
        # machinery, not to serve queries). Rows-only for the same
        # reason as minhash_near_duplicates_prod: the 256-centroid
        # Lloyd unroll has no practical oracle CTE; the hash-checked
        # twin above pins every relational stage, and the recall
        # property test pins quality (exact re-rank means every
        # emitted distance is TRUE — only shortlist recall is
        # approximate).
        lambda sp, d: pq.pq_topk_prod(_t(sp, d, "embeddings")),
        None,
        ("similarity", "pq", "ann", "production"),
        "product-quantization ANN at the production PQ64 config "
        "(recall@10 = 0.994 measured at sf0.1)",
    ))
    s.append(QuerySpec(
        "kmeans_clusters",
        # Relational assignment only: the round-12 quiet interleaved
        # A/B measured a numpy Arrow-kernel assign LOSING at this k=8
        # config — 0.81x at 32 cores, 0.69x at 8 (best-of-N,
        # OPTIMIZATION_r12.md) — because three mapInPandas stages +
        # centroid collects cost more than the mere 8x relational
        # fan-out they replace, so the kernel was deleted. pq_topk
        # keeps its kernel: at kcent=256 the same A/B measures it
        # 1.2-1.8x FASTER.
        lambda sp, d: kmeans.kmeans_assignments(_t(sp, d, "embeddings")),
        kmeans.kmeans_sql(),
        ("similarity", "iterative", "clustering"),
        "Lloyd's k-means (2 updates + final assign) in fixed-point integer "
        "space — the iterative centroid loop behind IVF index builds; the "
        "oracle replays it with unrolled CTEs",
    ))
    s.append(QuerySpec(
        "embedding_stats",
        lambda sp, d: arrays.embedding_stats(_t(sp, d, "embeddings")),
        f"""
        SELECT vec_id, label,
               CAST(list_position(embedding, list_aggregate(embedding, 'max'))
                    AS INTEGER) AS argmax_pos,
               {round_det_sql("list_sum(list_transform(embedding[1:8],"
                              " x -> CAST(x AS DOUBLE)))", 4)} AS head8_sum,
               {round_det_sql("sqrt(list_sum(list_transform(embedding,"
                              " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))",
                              4)} AS l2_norm
        FROM embeddings
        """,
        ("similarity", "array"),
        "array slice/argmax/norm (§2.9 array surface)",
    ))

    # ---- streaming (SURVEY §2.10) ----------------------------------------
    def _stream_tumbling(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.tumbling_counts(streams.stream_events(sp, d)), "complete"
        )

    s.append(QuerySpec(
        "stream_tumbling_counts",
        _stream_tumbling,
        f"""
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               COUNT(*) AS n_events, {sum_sql("value", "sum_value")}
        FROM events GROUP BY 1, 2
        """,
        ("streaming", "window"),
        "streaming tumbling window == batch time-bucket (A3 twin)",
    ))

    def _stream_dedup(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.streaming_dedup(streams.stream_events(sp, d)), "append"
        )

    s.append(QuerySpec(
        "stream_dedup_pairs",
        _stream_dedup,
        "SELECT DISTINCT user_id, event_type FROM events",
        ("streaming", "dedup"),
        "streaming dropDuplicates == batch DISTINCT",
    ))

    def _stream_sink(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        from pyspark.sql import functions as F
        filtered = streams.stream_events(sp, d).filter(F.col("value") > 150).select(
            "event_id", "user_id", "event_type", "value"
        )
        out = streams.run_foreach_batch_to_parquet(filtered)
        return sp.read.parquet(out).drop("_batch_id")

    def _stream_stateful(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.stateful_user_stats(streams.stream_events(sp, d)), "update"
        )

    s.append(QuerySpec(
        "stream_stateful_user_stats",
        _stream_stateful,
        """
        SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
        FROM events GROUP BY user_id
        """,
        ("streaming", "stateful", "udf"),
        "applyInPandasWithState custom stateful op == batch aggregate "
        "(explicit per-key state, update mode)",
    ))

    def _stream_vehicle(sp: SparkSession, d: str) -> DataFrame:
        # The vehicle pipeline whole, streaming: frames → array<struct>
        # detection UDF → explode → per-class rollup
        # (vehicle_consumer.py:38-243 compressed).
        tune_session(sp)
        ev = streams.stream_events(sp, d).filter(F.col("event_id") % 101 == 0)
        return streams.run_to_memory(
            detections.vehicle_counts(codecs.synthesize_frames(ev)), "complete"
        )

    s.append(QuerySpec(
        "stream_vehicle_counts",
        _stream_vehicle,
        f"""
        WITH f AS (
          SELECT event_id AS seed FROM events WHERE event_id % 101 = 0),
        d AS (SELECT seed, unnest(range(seed % 3 + 1)) AS i FROM f),
        dd AS (
          SELECT ['car','truck','bus','bike'][CAST((seed + i) % 4 AS INT) + 1]
                   AS vehicle_type,
                 0.5 + ((seed * 7 + i * 13) % 50) / 100.0 AS confidence,
                 CAST((seed + i) % 5 + 1 AS INTEGER) AS cnt
          FROM d)
        SELECT vehicle_type, COUNT(*) AS n_detections,
               CAST(SUM(cnt) AS BIGINT) AS total_count,
               {avg_sql("confidence", "avg_confidence", 4)}
        FROM dd GROUP BY vehicle_type
        """,
        ("streaming", "multimodal", "udf"),
        "the vehicle pipeline whole, streaming: frame stream -> "
        "detection UDF -> explode -> rollup (vehicle_consumer.py analog)",
    ))

    def _stream_frames(sp: SparkSession, d: str) -> DataFrame:
        # The fire pipeline's shape, streaming: frame stream →
        # struct-returning decode (mapInPandas) → append sink
        # (fire_consumer_streaming.py:38-295 essence).
        tune_session(sp)
        ev = streams.stream_events(sp, d).filter(F.col("event_id") % 101 == 0)
        return streams.run_to_memory(
            codecs.decode_frame_meta(codecs.synthesize_frames(ev)), "append"
        )

    s.append(QuerySpec(
        "stream_frame_metadata",
        _stream_frames,
        """
        SELECT user_id AS camera_id, event_id AS frame_number,
               CAST(640 AS INTEGER) AS width,
               CAST(360 + (user_id % 4) * 90 AS INTEGER) AS height,
               'fakeimg' AS codec,
               CAST(24 + GREATEST(16, (640 * (360 + (user_id % 4) * 90)) // 64)
                    AS INTEGER) AS n_bytes
        FROM events WHERE event_id % 101 = 0
        """,
        ("streaming", "multimodal", "udf"),
        "the fire pipeline's shape, streaming: frame stream -> struct "
        "decode UDF -> append (fire_consumer_streaming.py analog)",
    ))

    def _stream_fire(sp: SparkSession, d: str) -> DataFrame:
        # The fire pipeline AS THE REFERENCE RUNS IT — streaming, with
        # the REAL codec in the micro-batch path: frame stream → spec
        # PNG decode (plain/Adam7/paletted mix) → threshold mask →
        # per-frame detection rows, append mode
        # (fire_consumer_streaming.py:38-295 — its consumer decodes
        # real frames inside the stream, not in a batch job).
        # fire_mask_stats is stateless end to end (filter, pandas_udf,
        # mapInPandas, select), so the SAME operator composes onto the
        # stream unchanged and the SAME pixel-regenerating oracle
        # applies.
        tune_session(sp)
        return streams.run_to_memory(
            codecs.fire_mask_stats(streams.stream_events(sp, d)), "append"
        )

    s.append(QuerySpec(
        "stream_fire_mask_stats",
        _stream_fire,
        f"""
        WITH f AS (
          SELECT user_id AS camera_id, event_id AS frame_number,
                 event_id AS e,
                 16 + (user_id % 4) * 8 AS w,
                 12 + (event_id % 3) * 4 AS h
          FROM events WHERE event_id % 83 = 0),
        fx AS (
          SELECT camera_id, frame_number, e, w, h,
                 unnest(range(0, w)) AS x FROM f),
        fy AS (
          SELECT camera_id, frame_number, e, w, h, x,
                 unnest(range(0, h)) AS y FROM fx),
        px AS (
          SELECT camera_id, frame_number, w, h,
                 SUM(CASE WHEN (e + x + y) % 251 > 127
                          THEN 1 ELSE 0 END) AS n_hot
          FROM fy GROUP BY 1, 2, 3, 4)
        SELECT camera_id, frame_number,
               CAST(n_hot AS BIGINT) AS n_hot,
               CAST(w * h AS BIGINT) AS n_pixels,
               (n_hot * 10 > w * h * 3) AS fire_detected,
               {round_det_sql("n_hot / (w * h)", 4)} AS fire_percentage
        FROM px
        """,
        ("streaming", "multimodal", "codec", "segmentation"),
        "the fire pipeline streaming like the reference runs it: "
        "frame stream -> real PNG decode in the micro-batch -> mask "
        "stats, append mode, pixel-regenerating oracle",
    ))

    def _stream_sentiment(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.streaming_sentiment_distribution(
                streams.stream_documents(sp, d)
            ),
            "complete",
        )

    s.append(QuerySpec(
        "stream_sentiment_distribution",
        _stream_sentiment,
        f"""
        SELECT CASE WHEN len(list_filter({_TOKS}, t -> t IN ('fast','small')))
                       > len(list_filter({_TOKS}, t -> t IN ('slow','big'))) THEN 'POS'
                    WHEN len(list_filter({_TOKS}, t -> t IN ('slow','big')))
                       > len(list_filter({_TOKS}, t -> t IN ('fast','small'))) THEN 'NEG'
                    ELSE 'NEU' END AS label,
               COUNT(*) AS n_docs
        FROM documents GROUP BY label
        """,
        ("streaming", "udf", "text"),
        "the reference's flagship pipeline whole: text stream -> Arrow "
        "pandas-UDF inference -> aggregation (ABSA analog)",
    ))

    # NOTE: a transformWithStateInPandas twin of the stateful operator
    # exists (streaming.pipelines.stateful_user_stats_tws) but is not
    # registered: its state-server protocol requires google.protobuf,
    # which is unavailable in this container. The applyInPandasWithState
    # variant above covers the capability; a pytest skips-unless-protobuf
    # guards the newer API path.

    def _stream_jdbc_sink(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        filtered = (
            streams.stream_events(sp, d)
            .filter(F.col("value") > 150)
            .select("event_id", "user_id", "event_type", "value")
        )
        db = os.path.join(scratch_dir("bdes_derby_"), "db")
        url = jdbcio.derby_url(db)
        streams.run_foreach_batch_to_jdbc(filtered, url, "stream_sink")
        return jdbcio.read_jdbc(sp, url, "stream_sink")

    s.append(QuerySpec(
        "stream_jdbc_sink",
        _stream_jdbc_sink,
        """
        SELECT event_id, user_id, event_type, value
        FROM events WHERE value > 150
        """,
        ("streaming", "sink", "jdbc"),
        "foreachBatch -> JDBC append (the reference's actual sink, "
        "consumer_postgres_streaming.py:403-450) vs embedded Derby",
    ))

    s.append(QuerySpec(
        "stream_foreach_batch_sink",
        _stream_sink,
        """
        SELECT event_id, user_id, event_type, value
        FROM events WHERE value > 150
        """,
        ("streaming", "sink"),
        "foreachBatch append sink round-trip (S5/S6 analog)",
    ))

    def _batch_sessions(sp: SparkSession, d: str) -> DataFrame:
        # Same builder as the streaming pipeline, watermark off — the
        # fold point that keeps stream/batch twins from drifting.
        return streams.session_windows(_t(sp, d, "events"), watermark=None)

    s.append(QuerySpec(
        "session_windows",
        _batch_sessions,
        f"""
        WITH o AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           IS NULL
                        OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          -- session_window() drops NULL event times (an event with no
          -- time cannot be sessionized) — the lag-based replay must
          -- drop them too (round-8 NULL-ts probe)
          FROM events WHERE ts IS NOT NULL),
        s AS (
          SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o)
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id, COUNT(*) AS n_events, {sum_sql("value", "sum_value")}
        FROM s GROUP BY user_id, sid
        """,
        ("streaming", "session"),
        "gap-based session windows (session_window vs lag/cumsum oracle)",
    ))

    s.append(QuerySpec(
        "session_peak_concurrency",
        lambda sp, d: sequences.session_peak_concurrency(_t(sp, d, "events")),
        f"""
        WITH o AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           IS NULL
                        OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          -- session_window() drops NULL event times (an event with no
          -- time cannot be sessionized) — the lag-based replay must
          -- drop them too (round-8 NULL-ts probe)
          FROM events WHERE ts IS NOT NULL),
        s AS (
          SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o),
        sess AS (
          SELECT MIN(ts) AS st, MAX(ts) + INTERVAL 30 MINUTE AS en
          FROM s GROUP BY user_id, sid),
        pts AS (
          SELECT st AS t, 1 AS delta FROM sess
          UNION ALL SELECT en, -1 FROM sess),
        run AS (
          SELECT t, delta, SUM(delta) OVER (
            ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS c
          FROM pts)
        SELECT CAST(CAST(t AS DATE) AS TIMESTAMP) AS day,
               CAST(MAX(c) AS BIGINT) AS peak_concurrency,
               CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sessions_started
        FROM run GROUP BY 1
        """,
        ("sequence", "interval", "sweep"),
        "peak concurrent sessions per day (sweep-line over session intervals)",
    ))

    def _stream_sessions(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.session_windows(streams.stream_events(sp, d)), "complete"
        )

    s.append(QuerySpec(
        "stream_session_windows",
        _stream_sessions,
        f"""
        WITH o AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           IS NULL
                        OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                           >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          -- session_window() drops NULL event times (an event with no
          -- time cannot be sessionized) — the lag-based replay must
          -- drop them too (round-8 NULL-ts probe)
          FROM events WHERE ts IS NOT NULL),
        s AS (
          SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o)
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id, COUNT(*) AS n_events, {sum_sql("value", "sum_value")}
        FROM s GROUP BY user_id, sid
        """,
        ("streaming", "session", "stateful"),
        "session_window agg executed AS A STREAM (incremental session "
        "merge in state store) == the batch lag/cumsum oracle",
    ))

    def _batch_sliding(sp: SparkSession, d: str) -> DataFrame:
        return streams.sliding_counts(_t(sp, d, "events"), watermark=None)

    s.append(QuerySpec(
        "sliding_windows",
        _batch_sliding,
        """
        WITH w AS (
          SELECT date_trunc('hour', ts) AS w_start, event_type FROM events
          UNION ALL
          SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
        SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end, event_type,
               COUNT(*) AS n_events
        FROM w GROUP BY 1, 2, 3
        """,
        ("streaming", "window"),
        "sliding windows (each event in width/slide buckets)",
    ))

    def _stream_sliding(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.sliding_counts(streams.stream_events(sp, d)), "complete"
        )

    s.append(QuerySpec(
        "stream_sliding_counts",
        _stream_sliding,
        """
        WITH w AS (
          SELECT date_trunc('hour', ts) AS w_start, event_type FROM events
          UNION ALL
          SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events)
        SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end, event_type,
               COUNT(*) AS n_events
        FROM w GROUP BY 1, 2, 3
        """,
        ("streaming", "window"),
        "streaming sliding window == batch sliding twin (ST-slide)",
    ))

    # ---- multimodal plumbing (north star; deterministic fake codec) -----
    def _frame_meta(sp: SparkSession, d: str) -> DataFrame:
        from pyspark.sql import functions as F
        tune_session(sp)
        ev = load_table(sp, d, "events").filter(F.col("event_id") % 101 == 0)
        frames = codecs.synthesize_frames(ev)
        return codecs.decode_frame_meta(frames)

    # ---- sources & sinks (SURVEY §2.1 S3/S4/S5, §2.8 D4) ----------------
    def _csv_roundtrip(sp: SparkSession, d: str) -> DataFrame:
        part = _t(sp, d, "part").select(
            "p_partkey", "p_name", "p_brand", "p_retailprice"
        )
        out = scratch_dir("bdes_csv_")
        return csvio.roundtrip(part, out).groupBy("p_brand").agg(
            F.count("*").alias("n_parts"),
            exact_sum(F.col("p_retailprice")).alias("total_retail"),
        )

    s.append(QuerySpec(
        "csv_roundtrip",
        _csv_roundtrip,
        f"""
        SELECT p_brand, COUNT(*) AS n_parts,
               {sum_sql("p_retailprice", "total_retail")}
        FROM part GROUP BY p_brand
        """,
        ("source", "csv"),
        "explicit-schema CSV write→read round-trip + rollup (S3, producer.py:44)",
    ))

    def _orc_roundtrip(sp: SparkSession, d: str) -> DataFrame:
        ev = _t(sp, d, "events").select("event_id", "ts", "event_type", "value")
        out = scratch_dir("bdes_orc_")
        return orcio.roundtrip(ev, out).groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )

    s.append(QuerySpec(
        "orc_roundtrip",
        _orc_roundtrip,
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql("value", "total_value")},
               MAX(ts) AS last_ts
        FROM events GROUP BY event_type
        """,
        ("source", "orc"),
        "typed ORC write→read round-trip + rollup (timestamps survive "
        "the binary format losslessly, unlike CSV)",
    ))

    def _text_log_parse(sp: SparkSession, d: str) -> DataFrame:
        ev = _t(sp, d, "events").select("event_id", "user_id", "event_type", "value")
        out = scratch_dir("bdes_text_")
        return textio.roundtrip(ev, out).groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )

    s.append(QuerySpec(
        "textfile_log_parse",
        _text_log_parse,
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql("value", "total_value")}
        FROM events GROUP BY event_type
        """,
        ("source", "text"),
        "raw log-line sink → text scan → regexp_extract parse (lossless "
        "shortest-repr double round-trip)",
    ))

    s.append(QuerySpec(
        "incremental_agg_refresh",
        lambda sp, d: sets.incremental_agg_refresh(
            _t(sp, d, "customer"), sets.snapshot_mutate(_t(sp, d, "customer"))
        ),
        f"""
        WITH survivors AS (
          SELECT c_custkey, c_mktsegment,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
                      ELSE c_acctbal END AS n_bal
          FROM customer WHERE c_custkey % 13 <> 0),
        inserts AS (
          SELECT c_custkey + 1000000 AS c_custkey, c_mktsegment,
                 c_acctbal AS n_bal
          FROM customer WHERE c_custkey % 17 = 0),
        ns AS (SELECT * FROM survivors UNION ALL SELECT * FROM inserts)
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               {sum_sql("n_bal", "total_acctbal")}
        FROM ns GROUP BY c_mktsegment
        """,
        ("agg", "cdc", "materialized-view"),
        "incremental materialized-view refresh: base agg + keyed CDC "
        "deltas; the oracle is a FULL recompute — hash equality proves "
        "the maintenance identity",
    ))

    s.append(QuerySpec(
        "incremental_join_refresh",
        lambda sp, d: sets.incremental_join_refresh(
            _t(sp, d, "orders"), _t(sp, d, "lineitem")),
        f"""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               {sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        ("join", "cdc", "materialized-view"),
        "incremental JOIN-view maintenance: base + the three delta "
        "quadrants (ΔA⋈B, A⋈ΔB, ΔA⋈ΔB) with broadcast deltas; oracle "
        "is the full recompute — hash equality is the delta-rule proof",
    ))

    def _json_roundtrip(sp: SparkSession, d: str) -> DataFrame:
        ev = _t(sp, d, "events")
        return jsonio.roundtrip(ev, "event_id", "user_id", "event_type", "value")

    s.append(QuerySpec(
        "json_roundtrip",
        _json_roundtrip,
        "SELECT event_id, user_id, event_type, value FROM events",
        ("source", "json"),
        "to_json(struct(*)) → from_json Kafka-value round-trip (S4/D4, producer.py:40)",
    ))

    def _jdbc_roundtrip(sp: SparkSession, d: str) -> DataFrame:
        cust = _t(sp, d, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
        db = os.path.join(scratch_dir("bdes_derby_"), "db")
        return jdbcio.roundtrip(cust, db, "customer_rt").groupBy("c_mktsegment").agg(
            F.count("*").alias("n_customers"),
            exact_sum(F.col("c_acctbal")).alias("total_acctbal"),
        )

    s.append(QuerySpec(
        "jdbc_roundtrip",
        _jdbc_roundtrip,
        f"""
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               {sum_sql("c_acctbal", "total_acctbal")}
        FROM customer GROUP BY c_mktsegment
        """,
        ("source", "jdbc"),
        "JDBC append-writer + scan vs embedded Derby (S5, consumer_postgres_streaming.py:427-440)",
    ))

    # ---- streaming joins / stateful dedup (SURVEY §2.4, §2.10) ----------
    def _stream_static(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        ev = streams.stream_events(sp, d)
        dim = _t(sp, d, "customer")
        return streams.run_to_memory(
            streams.stream_static_enrich(ev, dim), "append"
        )

    s.append(QuerySpec(
        "stream_static_join",
        _stream_static,
        """
        SELECT e.event_id, e.user_id, e.event_type,
               c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        """,
        ("streaming", "join"),
        "stream-static broadcast enrichment join == batch join",
    ))

    def _stream_stream_join(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.click_purchase_attribution(
                streams.stream_events(sp, d),
                streams.stream_events(sp, d),
                watermark="10 minutes",
            ),
            "append",
        )

    s.append(QuerySpec(
        "stream_stream_join",
        _stream_stream_join,
        """
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               p.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        """,
        ("streaming", "join"),
        "stream-stream time-bounded attribution join == batch self-join",
    ))

    def _stream_stream_outer(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.click_purchase_attribution(
                streams.stream_events(sp, d),
                streams.stream_events(sp, d),
                watermark="10 minutes",
                how="left_outer",
            ),
            "append",
        )

    s.append(QuerySpec(
        "stream_stream_left_outer",
        _stream_stream_outer,
        """
        WITH mx AS (
          SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')) AS m),
        wm AS (
          -- Spark watermarks are millisecond-truncated; the filter is
          -- pushed below the watermark node so each side tracks its
          -- FILTERED max event time, and the global watermark is the
          -- min of the two sides minus the delay.
          SELECT make_timestamp((epoch_us(m) // 1000) * 1000)
                 - INTERVAL 10 MINUTE AS w FROM mx),
        matched AS (
          SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                 p.user_id,
                 epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
          FROM events c JOIN events p
            ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts),
        unmatched AS (
          -- state eviction: a click's join window [ts, ts + 1 HOUR]
          -- is closed once it lies entirely below the watermark
          SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id,
                 c.user_id, CAST(NULL AS BIGINT) AS gap_us
          FROM events c, wm
          WHERE c.event_type = 'click'
            AND NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.click_id = c.event_id)
            AND c.ts < wm.w - INTERVAL 1 HOUR)
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        """,
        ("streaming", "join", "outer"),
        "watermarked LEFT OUTER stream-stream join: null-extended "
        "unmatched clicks flush on state eviction; the oracle replays "
        "the exact emission rule (min-of-filtered-sides ms watermark)",
    ))

    # Salted twins (round-10: hot-key mitigation for the one measured
    # scale ceiling — skew soak batch p95 1.8→14.8 s with one user at
    # 30 % of events). Deterministic event_id%k salt on the click side,
    # purchase rows replicated across the k salts within the watermark
    # bound → state partitions on (user_id, salt); semantics identical,
    # so the oracles are the UNSALTED SQL verbatim — the driver's hash
    # compare IS the parity pin.
    def _stream_stream_join_salted(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.click_purchase_attribution(
                streams.stream_events(sp, d),
                streams.stream_events(sp, d),
                watermark="10 minutes",
                salts=8,
            ),
            "append",
        )

    s.append(QuerySpec(
        "stream_stream_join_salted",
        _stream_stream_join_salted,
        """
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               p.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        """,
        ("streaming", "join", "skew"),
        "salted (k=8) stream-stream join: hot-key state spread over "
        "(user_id, salt) partitions, hash-equal to the unsalted plan",
    ))

    def _stream_stream_outer_salted(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.click_purchase_attribution(
                streams.stream_events(sp, d),
                streams.stream_events(sp, d),
                watermark="10 minutes",
                how="left_outer",
                salts=8,
            ),
            "append",
        )

    s.append(QuerySpec(
        "stream_stream_left_outer_salted",
        _stream_stream_outer_salted,
        """
        WITH mx AS (
          SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')) AS m),
        wm AS (
          SELECT make_timestamp((epoch_us(m) // 1000) * 1000)
                 - INTERVAL 10 MINUTE AS w FROM mx),
        matched AS (
          SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                 p.user_id,
                 epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
          FROM events c JOIN events p
            ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts),
        unmatched AS (
          SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id,
                 c.user_id, CAST(NULL AS BIGINT) AS gap_us
          FROM events c, wm
          WHERE c.event_type = 'click'
            AND NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.click_id = c.event_id)
            AND c.ts < wm.w - INTERVAL 1 HOUR)
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        """,
        ("streaming", "join", "outer", "skew"),
        "salted (k=8) watermarked LEFT OUTER stream-stream join, "
        "hash-equal to the unsalted plan incl. the eviction rule",
    ))

    def _stream_wm_dedup(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        return streams.run_to_memory(
            streams.streaming_dedup_within_watermark(streams.stream_events(sp, d)),
            "append",
        )

    s.append(QuerySpec(
        "stream_watermark_dedup",
        _stream_wm_dedup,
        "SELECT DISTINCT user_id, event_type FROM events",
        ("streaming", "dedup"),
        "dropDuplicatesWithinWatermark (bounded state) == batch DISTINCT",
    ))

    # ---- splits / probes / unions (SURVEY §2.6 O4, §2.3 A8, §2.7) -------
    s.append(QuerySpec(
        "random_split_union",
        lambda sp, d: sampling.random_split_union(_t(sp, d, "events")),
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql("value", "total_value")}
        FROM events GROUP BY event_type
        """,
        ("sample", "split", "set"),
        "randomSplit 80/20 + reunion invariant (O4, train_absa_model.py:145-152)",
    ))
    s.append(QuerySpec(
        "is_empty_probe",
        lambda sp, d: sampling.emptiness_probes(_t(sp, d, "events")),
        """
        SELECT (SELECT COUNT(*) FROM events WHERE value > 1000000.0) = 0
                 AS no_huge,
               EXISTS(SELECT 1 FROM events WHERE event_type = 'click')
                 AS has_clicks,
               TRUE AS limit0_empty
        """,
        ("probe",),
        "isEmpty probes (A8, consumer_postgres_streaming.py:406-409)",
    ))
    s.append(QuerySpec(
        "union_missing_columns",
        lambda sp, d: sets.union_click_purchase_stats(_t(sp, d, "events")),
        f"""
        SELECT user_id, COUNT(*) AS n_rows, COUNT(value) AS n_click_rows,
               {sum_sql("value", "click_value")}
        FROM (SELECT event_id, user_id, value FROM events
              WHERE event_type = 'click'
              UNION ALL
              SELECT event_id, user_id, NULL AS value FROM events
              WHERE event_type = 'purchase') t
        GROUP BY user_id
        """,
        ("set", "union"),
        "unionByName(allowMissingColumns) + null-skipping rollup (SET-u)",
    ))

    # ---- multimodal string edges + U3 chain -----------------------------
    def _b64_roundtrip(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        ev = load_table(sp, d, "events").filter(F.col("event_id") % 101 == 0)
        rt = codecs.base64_roundtrip(codecs.synthesize_frames(ev))
        return rt.select(
            "camera_id",
            "frame_number",
            F.length("frame_back").alias("n_bytes"),
            F.length("frame_b64").alias("b64_len"),
            "lossless",
        )

    s.append(QuerySpec(
        "base64_roundtrip",
        _b64_roundtrip,
        # Spark's base64() is MIME-chunked (Hive-compatible): a CRLF
        # every 76 output chars → length = 4*ceil(n/3) + 2*((4*ceil(n/3)-1)//76).
        """
        WITH f AS (
          SELECT user_id AS camera_id, event_id AS frame_number,
                 24 + GREATEST(16, (640 * (360 + (user_id % 4) * 90)) // 64)
                   AS n_bytes
          FROM events WHERE event_id % 101 = 0),
        b AS (SELECT *, 4 * CAST(CEIL(n_bytes / 3.0) AS BIGINT) AS raw_len FROM f)
        SELECT camera_id, frame_number,
               CAST(n_bytes AS INTEGER) AS n_bytes,
               CAST(raw_len + 2 * ((raw_len - 1) // 76) AS INTEGER) AS b64_len,
               TRUE AS lossless
        FROM b
        """,
        ("multimodal", "codec"),
        "binary → base64 → binary lossless round-trip (P10, fire_consumer_streaming.py:166-206)",
    ))

    def _vehicle_detections(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        ev = load_table(sp, d, "events").filter(F.col("event_id") % 101 == 0)
        return detections.vehicle_counts(codecs.synthesize_frames(ev))

    s.append(QuerySpec(
        "vehicle_detections",
        _vehicle_detections,
        f"""
        WITH f AS (
          SELECT event_id AS seed FROM events WHERE event_id % 101 = 0),
        d AS (SELECT seed, unnest(range(seed % 3 + 1)) AS i FROM f),
        dd AS (
          SELECT ['car','truck','bus','bike'][CAST((seed + i) % 4 AS INT) + 1]
                   AS vehicle_type,
                 0.5 + ((seed * 7 + i * 13) % 50) / 100.0 AS confidence,
                 CAST((seed + i) % 5 + 1 AS INTEGER) AS cnt
          FROM d)
        SELECT vehicle_type, COUNT(*) AS n_detections,
               CAST(SUM(cnt) AS BIGINT) AS total_count,
               {avg_sql("confidence", "avg_confidence", 4)}
        FROM dd GROUP BY vehicle_type
        """,
        ("multimodal", "udf", "explode"),
        "array<struct> detection UDF → explode → rollup (U3+D1+A7, vehicle_consumer.py:119-183)",
    ))

    def _arrow_frames(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        ev = load_table(sp, d, "events").filter(F.col("event_id") % 101 == 0)
        return codecs.arrow_frame_stats(codecs.synthesize_frames(ev))

    s.append(QuerySpec(
        "arrow_frame_stats",
        _arrow_frames,
        # total frame bytes = 24-byte header + max(16, w*h/64) payload
        """
        SELECT event_id AS frame_number,
               CAST(24 + GREATEST(16, (640 * (360 + (user_id % 4) * 90)) // 64)
                    AS INTEGER) AS n_bytes
        FROM events WHERE event_id % 101 = 0
        """,
        ("multimodal", "arrow"),
        "mapInArrow zero-copy binary stats (lowest-level Python boundary)",
    ))

    s.append(QuerySpec(
        "frame_metadata",
        _frame_meta,
        """
        SELECT user_id AS camera_id, event_id AS frame_number,
               CAST(640 AS INTEGER) AS width,
               CAST(360 + (user_id % 4) * 90 AS INTEGER) AS height,
               'fakeimg' AS codec,
               CAST(24 + GREATEST(16, (640 * (360 + (user_id % 4) * 90)) // 64)
                    AS INTEGER) AS n_bytes
        FROM events WHERE event_id % 101 = 0
        """,
        ("multimodal", "udf"),
        "binary frame synth → mapInPandas metadata decode round-trip",
    ))

    s.append(QuerySpec(
        "png_pixel_stats",
        # REAL codec in the plan: spec-compliant PNG encode (all five
        # scanline filters, cycling on event_id % 5) then FULL decode
        # (CRC check + inflate + unfilter) inside mapInPandas;
        # width/height/mean come from reconstructed pixels while the
        # oracle recomputes them from the synthesis formula — the hash
        # match proves the codec round-trips exactly.
        lambda sp, d: codecs.png_pixel_stats(_t(sp, d, "events")),
        """
        SELECT user_id AS camera_id,
               COUNT(*) AS n_frames,
               CAST(SUM(16 + (user_id % 4) * 8) AS BIGINT) AS sum_width,
               CAST(SUM(12 + (event_id % 3) * 4) AS BIGINT) AS sum_height,
               CAST(SUM(event_id % 251) AS BIGINT) AS sum_mean_pixel
        FROM events WHERE event_id % 97 = 0
        GROUP BY 1
        """,
        ("multimodal", "codec", "png"),
        "real PNG codec round-trip: encode w/ all spec filters, full "
        "decode in mapInPandas, pixel-derived stats vs formula oracle",
    ))

    s.append(QuerySpec(
        "fire_mask_stats",
        # the fire-segmentation pipeline's per-frame output shape
        # (fire_detections: camera/frame/flag/percentage), through the
        # REAL PNG codec: gradient frames decode losslessly, so the
        # oracle regenerates every pixel from the synthesis formula
        # with two generate_series and the hash pins decode + mask
        # threshold + fraction math end to end
        lambda sp, d: codecs.fire_mask_stats(_t(sp, d, "events")),
        f"""
        WITH f AS (
          SELECT user_id AS camera_id, event_id AS frame_number,
                 event_id AS e,
                 16 + (user_id % 4) * 8 AS w,
                 12 + (event_id % 3) * 4 AS h
          FROM events WHERE event_id % 83 = 0),
        fx AS (
          SELECT camera_id, frame_number, e, w, h,
                 unnest(range(0, w)) AS x FROM f),
        fy AS (
          SELECT camera_id, frame_number, e, w, h, x,
                 unnest(range(0, h)) AS y FROM fx),
        px AS (
          SELECT camera_id, frame_number, w, h,
                 SUM(CASE WHEN (e + x + y) % 251 > 127
                          THEN 1 ELSE 0 END) AS n_hot
          FROM fy GROUP BY 1, 2, 3, 4)
        SELECT camera_id, frame_number,
               CAST(n_hot AS BIGINT) AS n_hot,
               CAST(w * h AS BIGINT) AS n_pixels,
               (n_hot * 10 > w * h * 3) AS fire_detected,
               {round_det_sql("n_hot / (w * h)", 4)} AS fire_percentage
        FROM px
        """,
        ("multimodal", "codec", "segmentation"),
        "fire-segmentation output shape: real PNG decode -> threshold "
        "mask fraction + flag per frame (fire_consumer_streaming.py:"
        "225-233), pixel-regenerating oracle",
    ))
    s.append(QuerySpec(
        "fire_overlay_detections",
        # the COMPLETE fire_detections shape, image_base64 included
        # (fire_consumer_streaming.py:166-206): mask colorize → 0.6/0.4
        # blend → own-JPEG encode (q85, 4:2:0) → F.base64; emitted for
        # every 5th frame or any detection, NULL otherwise. Rows-only:
        # JPEG bytes aren't SQL-replayable — the stats/emission rule is
        # hash-checked by the _accounting twin below, the bytes by the
        # decode-back property test (tests/test_fire_overlay.py).
        lambda sp, d: codecs.fire_overlay_detections(_t(sp, d, "events")),
        None,
        ("multimodal", "codec", "segmentation", "production"),
        "fire_detections with the overlay JPEG column: mask colorize + "
        "blend + own-JPEG encode + base64 (reference's image_data)",
    ))
    s.append(QuerySpec(
        "fire_overlay_accounting",
        # hash-checked companion: runs the FULL overlay pipeline (JPEG
        # encode included) and reduces the bytes to has_overlay, so the
        # oracle pins mask count + confidence arithmetic + emission
        # rule against regenerated pixels
        lambda sp, d: codecs.fire_overlay_accounting(_t(sp, d, "events")),
        f"""
        WITH f AS (
          SELECT user_id AS camera_id, event_id AS frame_number,
                 event_id AS e,
                 16 + (user_id % 4) * 8 AS w,
                 12 + (event_id % 3) * 4 AS h
          FROM events WHERE event_id % 83 = 0),
        fx AS (
          SELECT camera_id, frame_number, e, w, h,
                 unnest(range(0, w)) AS x FROM f),
        fy AS (
          SELECT camera_id, frame_number, e, w, h, x,
                 unnest(range(0, h)) AS y FROM fx),
        px AS (
          SELECT camera_id, frame_number, w, h,
                 SUM(CASE WHEN (e + x + y) % 251 > 127
                          THEN 1 ELSE 0 END) AS n_hot,
                 SUM((e + x + y) % 251) AS sum_gray
          FROM fy GROUP BY 1, 2, 3, 4)
        SELECT camera_id, frame_number,
               (n_hot * 10 > w * h * 3) AS fire_detected,
               {round_det_sql("n_hot / (w * h)", 4)} AS fire_percentage,
               {round_det_sql("sum_gray / (w * h * 255)", 4)} AS confidence,
               ((n_hot * 10 > w * h * 3) OR frame_number % 5 = 0)
                 AS has_overlay
        FROM px
        """,
        ("multimodal", "codec", "segmentation"),
        "overlay pipeline accounting: mask stats + mean-brightness "
        "confidence + emission rule, pixel-regenerating oracle",
    ))

    s.append(QuerySpec(
        "jpeg_pixel_stats",
        # REAL baseline-JPEG codec in the plan (multimodal/jpeg.py —
        # Huffman + DCT + Annex K quantization, no cv2): encode →
        # decode → nearest-neighbour resize to width 16 → re-encode →
        # decode, the reference's per-frame loop
        # (vehicle_consumer.py:94-116). Constant-fill frames quantize
        # to a lone DC coefficient, so the decoded value has a closed
        # integer form (clip(2·round_half_away((v−128)/2)+128) at the
        # quality-50 DC quantizer 16) and the SECOND round-trip is
        # lossless (the offset is already a multiple of the step) —
        # the oracle replays that formula, so a hash match pins the
        # entropy coder, transform, rounding and resample exactly.
        lambda sp, d: codecs.jpeg_pixel_stats(_t(sp, d, "events")),
        """
        WITH f AS (
          SELECT user_id,
                 16 + (user_id % 4) * 8 AS w,
                 12 + (event_id % 3) * 4 AS h,
                 (event_id % 251) - 128 AS dd
          FROM events WHERE event_id % 89 = 0),
        v AS (
          SELECT user_id,
                 LEAST(255, GREATEST(0,
                   CASE WHEN dd >= 0 THEN 2 * ((dd + 1) // 2)
                        ELSE -2 * ((-dd + 1) // 2) END + 128)) AS vp,
                 GREATEST(1, CAST(FLOOR(h * 16.0 / w) AS INTEGER)) AS new_h
          FROM f)
        SELECT user_id AS camera_id,
               COUNT(*) AS n_frames,
               CAST(SUM(16) AS BIGINT) AS sum_width,
               CAST(SUM(new_h) AS BIGINT) AS sum_height,
               CAST(SUM(vp) AS BIGINT) AS sum_mean_pixel
        FROM v GROUP BY 1
        """,
        ("multimodal", "codec", "jpeg"),
        "real baseline-JPEG round-trip incl. resize: Huffman+DCT "
        "encode/decode in mapInPandas, pixel stats vs integer-formula "
        "oracle",
    ))

    s.append(QuerySpec(
        "jpeg_progressive_pixel_stats",
        # PROGRESSIVE (SOF2) ingest path: source frames are
        # successive-approximation + spectral-selection streams (the
        # web-crawl default; the reference gets this via cv2,
        # vehicle_consumer.py:94-96), decoded by the T.81 §G.2
        # progressive decoder, resized, re-encoded baseline, decoded
        # again.  Same quantized coefficients as baseline → identical
        # decoded pixels → the same closed integer formula; the hash
        # match pins DC/AC first passes, bit-plane refinement and
        # EOB-run decoding end to end.
        lambda sp, d: codecs.jpeg_progressive_pixel_stats(
            _t(sp, d, "events")
        ),
        """
        WITH f AS (
          SELECT user_id,
                 16 + (user_id % 4) * 8 AS w,
                 12 + (event_id % 3) * 4 AS h,
                 (event_id % 251) - 128 AS dd
          FROM events WHERE event_id % 97 = 0),
        v AS (
          SELECT user_id,
                 LEAST(255, GREATEST(0,
                   CASE WHEN dd >= 0 THEN 2 * ((dd + 1) // 2)
                        ELSE -2 * ((-dd + 1) // 2) END + 128)) AS vp,
                 GREATEST(1, CAST(FLOOR(h * 16.0 / w) AS INTEGER)) AS new_h
          FROM f)
        SELECT user_id AS camera_id,
               COUNT(*) AS n_frames,
               CAST(SUM(16) AS BIGINT) AS sum_width,
               CAST(SUM(new_h) AS BIGINT) AS sum_height,
               CAST(SUM(vp) AS BIGINT) AS sum_mean_pixel
        FROM v GROUP BY 1
        """,
        ("multimodal", "codec", "jpeg", "progressive"),
        "progressive-JPEG (SOF2) decode path: successive approximation "
        "+ spectral selection + EOB runs, pixel stats vs "
        "integer-formula oracle",
    ))

    def _sampled_frames(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        ev = load_table(sp, d, "events").filter(F.col("event_id") % 101 == 0)
        frames = codecs.sample_frames(codecs.synthesize_frames(ev), every_n=5)
        return codecs.decode_frame_meta(frames)

    s.append(QuerySpec(
        "sampled_frame_metadata",
        _sampled_frames,
        """
        SELECT user_id AS camera_id, event_id AS frame_number,
               CAST(640 AS INTEGER) AS width,
               CAST(360 + (user_id % 4) * 90 AS INTEGER) AS height,
               'fakeimg' AS codec,
               CAST(24 + GREATEST(16, (640 * (360 + (user_id % 4) * 90)) // 64)
                    AS INTEGER) AS n_bytes
        FROM events WHERE event_id % 101 = 0 AND event_id % 5 = 0
        """,
        ("multimodal", "sample"),
        "every-Nth frame sampling (pushed filter) -> metadata decode "
        "(fire_consumer_streaming.py:159,205 'store every 5th frame')",
    ))

    def _resize_meta(sp: SparkSession, d: str) -> DataFrame:
        tune_session(sp)
        ev = load_table(sp, d, "events").filter(F.col("event_id") % 101 == 0)
        frames = codecs.synthesize_frames(ev)
        return codecs.decode_frame_meta(codecs.resize_frames(frames, 320))

    s.append(QuerySpec(
        "resize_frames_meta",
        _resize_meta,
        # new_h = max(1, trunc(h * 320 / 640)); payload scales with the
        # fake format's width*height//64 rule (codecs.encode_fake_frame).
        """
        WITH f AS (
          SELECT user_id AS camera_id, event_id AS frame_number,
                 GREATEST(1, CAST(FLOOR((360 + (user_id % 4) * 90) * 320.0 / 640)
                                  AS INTEGER)) AS new_h
          FROM events WHERE event_id % 101 = 0)
        SELECT camera_id, frame_number,
               CAST(320 AS INTEGER) AS width,
               CAST(new_h AS INTEGER) AS height,
               'fakeimg' AS codec,
               CAST(24 + GREATEST(16, (320 * new_h) // 64) AS INTEGER) AS n_bytes
        FROM f
        """,
        ("multimodal", "udf"),
        "resize UDF (binary→binary Arrow transfer) → metadata decode",
    ))

    # ---- the remaining TPC-H query shapes (Q2/Q7/Q8/Q9/Q11/Q15/Q20/Q21)
    # complete the 22-query family; each exercises a plan shape no other
    # registry entry covers (decorrelated scalar MIN, OR'd nation pairs,
    # conditional-ratio share, global-scalar HAVING, max-over-view,
    # nested-IN HAVING, double-EXISTS decorrelation).
    s.append(QuerySpec(
        "min_cost_part_supplier",
        lambda sp, d: joins.min_cost_part_supplier(
            _t(sp, d, "part"), _t(sp, d, "supplier"), _t(sp, d, "nation"),
            _t(sp, d, "region"), _t(sp, d, "lineitem")),
        """
        WITH regional_supp AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        offers AS (
          SELECT l_partkey, l_suppkey,
                 MIN(l_extendedprice / l_quantity) AS min_cost
          FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM regional_supp)
          GROUP BY l_partkey, l_suppkey),
        best AS (
          SELECT l_partkey AS bp, MIN(min_cost) AS part_min
          FROM offers GROUP BY l_partkey)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, min_cost
        FROM offers
        JOIN best ON l_partkey = bp AND min_cost = part_min
        JOIN part ON l_partkey = p_partkey AND p_size >= 40
        JOIN regional_supp ON l_suppkey = s_suppkey
        ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100
        """,
        ("join", "scalar-subquery", "topk"),
        "TPC-H Q2 shape: correlated per-part MIN decorrelated to "
        "agg + equality join (raw IEEE doubles, no rounding needed)",
    ))
    s.append(QuerySpec(
        "nation_trade_volume",
        lambda sp, d: joins.nation_trade_volume(
            _t(sp, d, "lineitem"), _t(sp, d, "orders"), _t(sp, d, "customer"),
            _t(sp, d, "supplier"), _t(sp, d, "nation")),
        f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
               {sum_sql("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
        """,
        ("join", "agg"),
        "TPC-H Q7 shape: two-nation trade volume by direction and year",
    ))
    _Q8_NUM = ("CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_5' "
               "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END "
               "AS DECIMAL(30,8))) AS DOUBLE)")
    _Q8_DEN = ("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
               "AS DECIMAL(30,8))) AS DOUBLE)")
    s.append(QuerySpec(
        "nation_market_share",
        lambda sp, d: joins.nation_market_share(
            _t(sp, d, "lineitem"), _t(sp, d, "orders"), _t(sp, d, "customer"),
            _t(sp, d, "supplier"), _t(sp, d, "nation"), _t(sp, d, "region"),
            _t(sp, d, "part")),
        f"""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               {round_det_sql(f"({_Q8_NUM}) / ({_Q8_DEN})", 4)} AS mkt_share
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
          AND o_custkey IN (SELECT c_custkey FROM customer
                            JOIN nation ON c_nationkey = n_nationkey
                            JOIN region ON n_regionkey = r_regionkey
                            WHERE r_name = 'AMERICA')
        GROUP BY o_year
        """,
        ("join", "agg", "conditional"),
        "TPC-H Q8 shape: one nation's market share as a conditional "
        "decimal-sum ratio per order year",
    ))
    s.append(QuerySpec(
        "product_type_profit",
        lambda sp, d: joins.product_type_profit(
            _t(sp, d, "lineitem"), _t(sp, d, "orders"), _t(sp, d, "part"),
            _t(sp, d, "supplier"), _t(sp, d, "nation")),
        f"""
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               {sum_sql(
                   "l_extendedprice * (1 - l_discount) "
                   "- 0.1 * p_retailprice * l_quantity", "sum_profit")}
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        """,
        ("join", "agg"),
        "TPC-H Q9 shape: profit on matching parts per supplier nation "
        "and year (supply cost modeled as 10% of retail; no partsupp)",
    ))
    s.append(QuerySpec(
        "important_parts",
        lambda sp, d: joins.important_parts(
            _t(sp, d, "lineitem"), _t(sp, d, "supplier"), _t(sp, d, "nation")),
        f"""
        WITH scoped AS (
          SELECT l_partkey, l_extendedprice FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                              JOIN nation ON s_nationkey = n_nationkey
                              WHERE n_name = 'NATION_3')),
        per_part AS (
          SELECT l_partkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE)
                   AS value_d
          FROM scoped GROUP BY l_partkey),
        tot AS (
          SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE)
                   AS total_d
          FROM scoped)
        SELECT l_partkey, {round_det_sql("value_d")} AS part_value
        FROM per_part, tot
        WHERE value_d > total_d * 0.001
        """,
        ("agg", "scalar-subquery"),
        "TPC-H Q11 shape: per-part value with HAVING against a global "
        "scalar over the same filtered scan",
    ))
    s.append(QuerySpec(
        "top_supplier",
        lambda sp, d: joins.top_supplier(
            _t(sp, d, "lineitem"), _t(sp, d, "supplier")),
        f"""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 {sum_sql("l_extendedprice * (1 - l_discount)",
                          "total_revenue")}
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey
        """,
        ("agg", "scalar-subquery"),
        "TPC-H Q15 shape: supplier(s) at max quarterly revenue "
        "(max over an agg view; rounded before comparison)",
    ))
    s.append(QuerySpec(
        "part_promotion_suppliers",
        lambda sp, d: joins.part_promotion_suppliers(
            _t(sp, d, "lineitem"), _t(sp, d, "part"), _t(sp, d, "supplier"),
            _t(sp, d, "nation")),
        """
        SELECT s_name, s_acctbal FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_name = 'NATION_3')
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey, l_partkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
                   > 40.0)
        ORDER BY s_name
        """,
        ("join", "semi", "agg"),
        "TPC-H Q20 shape: nested IN over a grouped HAVING, "
        "decorrelated to grouped filter + LEFT SEMI",
    ))
    s.append(QuerySpec(
        "waiting_suppliers",
        lambda sp, d: joins.waiting_suppliers(
            _t(sp, d, "lineitem"), _t(sp, d, "orders"), _t(sp, d, "supplier")),
        """
        WITH li AS (
          SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'),
        late AS (
          SELECT * FROM li
          WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
        SELECT s_name, COUNT(*) AS numwait
        FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM li l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20
        """,
        ("join", "semi", "anti", "topk"),
        "TPC-H Q21 shape: sole-late-supplier EXISTS/NOT-EXISTS pair "
        "decorrelated to two per-order aggregates + semi joins",
    ))

    # ---- corpus-governance tier: PII scrub, benchmark decontamination,
    # source-mixture sampling (functions/pii.py, dedup/contamination.py,
    # operators/sampling.py). The remaining pre-training curation steps
    # a 100 TB corpus build runs after dedup/quality filtering.
    _PII_DIRTY = (
        "COALESCE(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.org ssn '"
        " || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')"
        " || '-45-6789 call +1-555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.' || CAST(doc_id % 100 AS VARCHAR)"
    )
    # Counts are taken per STAGE of the scrub chain (emails on dirty,
    # SSNs after email redaction, …) so they equal what the chain
    # replaced — mirrors pii.redact_pii exactly.
    _PII_CTES = f"""
        dirty AS (SELECT doc_id, {_PII_DIRTY} AS dirty FROM documents),
        st1 AS (SELECT doc_id, dirty,
                       regexp_replace(dirty, '{pii.EMAIL_RE}', '<EMAIL>', 'g') AS s1
                FROM dirty),
        st2 AS (SELECT *, regexp_replace(s1, '{pii.SSN_RE}', '<SSN>', 'g') AS s2
                FROM st1),
        st3 AS (SELECT *, regexp_replace(s2, '{pii.PHONE_RE}', '<PHONE>', 'g') AS s3
                FROM st2),
        red AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(dirty, '{pii.EMAIL_RE}'))
                      AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(s1, '{pii.SSN_RE}'))
                      AS BIGINT) AS n_ssns,
                 CAST(len(regexp_extract_all(s2, '{pii.PHONE_RE}'))
                      AS BIGINT) AS n_phones,
                 CAST(len(regexp_extract_all(s3, '{pii.IP_RE}'))
                      AS BIGINT) AS n_ips,
                 regexp_replace(s3, '{pii.IP_RE}', '<IP>', 'g') AS redacted
          FROM st3)"""
    s.append(QuerySpec(
        "pii_redaction",
        lambda sp, d: pii.redact_pii(_t(sp, d, "documents")),
        f"""
        WITH {_PII_CTES}
        SELECT doc_id, n_emails, n_ssns, n_phones, n_ips,
               CAST(length(redacted) AS BIGINT) AS redacted_len,
               md5(redacted) AS redacted_fp
        FROM red
        """,
        ("text", "pii"),
        "per-document PII scrub (email/SSN/phone/IP regex chain, "
        "Java∩RE2 subset); md5 of redacted text is the witness",
    ))
    s.append(QuerySpec(
        "pii_corpus_summary",
        lambda sp, d: pii.pii_corpus_summary(_t(sp, d, "documents")),
        f"""
        WITH {_PII_CTES}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_emails) AS BIGINT) AS total_emails,
               CAST(SUM(n_ssns) AS BIGINT) AS total_ssns,
               CAST(SUM(n_phones) AS BIGINT) AS total_phones,
               CAST(SUM(n_ips) AS BIGINT) AS total_ips,
               CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_with_email,
               CAST(COUNT(DISTINCT md5(redacted)) AS BIGINT)
                 AS distinct_redacted
        FROM red
        """,
        ("text", "pii", "agg"),
        "corpus-level scrub report: category totals + distinct "
        "redacted fingerprints (the governance sign-off number)",
    ))
    # Four O(1) element accesses, NOT the list slice w[i+1:i+4]:
    # DuckDB re-materializes the sliced list per comprehension element,
    # which is O(len²) per document (measured 125 s at a 10k-token doc
    # — the round-9 skewed-giant straggler). The concatenation is
    # byte-identical to array_to_string(.., ' ') (regexp_split yields
    # no NULL elements).
    _GRAM_CTES = r"""
        words AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
                  FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, gh FROM (
            SELECT doc_id,
                   unnest([md5(w[i+1] || ' ' || w[i+2] || ' ' ||
                               w[i+3] || ' ' || w[i+4])
                           for i in range(0, len(w) - 3)]) AS gh
            FROM words WHERE len(w) >= 4)),
        bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0),
        probe AS (SELECT doc_id, gh FROM grams WHERE doc_id % 97 <> 0),
        per_doc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
          FROM probe GROUP BY doc_id),
        hits AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
          FROM probe WHERE gh IN (SELECT gh FROM bench)
          GROUP BY doc_id)"""
    s.append(QuerySpec(
        "contamination_report",
        lambda sp, d: contamination.contamination_report(
            _t(sp, d, "documents")),
        f"""
        WITH {_GRAM_CTES}
        SELECT p.doc_id, n_grams, n_contaminated,
               {round_det_sql("n_contaminated / n_grams", 4)}
                 AS contamination_rate
        FROM per_doc p JOIN hits h ON p.doc_id = h.doc_id
        WHERE n_contaminated >= 1
        """,
        ("dedup", "contamination"),
        "train/test overlap scan: distinct word-4-gram md5 hashes, "
        "benchmark side broadcast, per-doc contaminated fraction",
    ))
    s.append(QuerySpec(
        "contamination_summary",
        lambda sp, d: contamination.contamination_summary(
            _t(sp, d, "documents")),
        f"""
        WITH {_GRAM_CTES},
        rep AS (
          SELECT p.doc_id, n_grams, n_contaminated,
                 {round_det_sql("n_contaminated / n_grams", 4)} AS rate
          FROM per_doc p JOIN hits h ON p.doc_id = h.doc_id
          WHERE n_contaminated >= 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS docs_contaminated,
               CAST(SUM(n_contaminated) AS BIGINT) AS total_hits,
               CAST(SUM(CASE WHEN rate >= 0.5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_quarantined,
               {round_det_sql("MAX(rate)", 4)} AS max_rate
        FROM rep
        """,
        ("dedup", "contamination", "agg"),
        "decontamination drop-list size: quarantine count at "
        "rate ≥ 0.5 + corpus max rate",
    ))
    s.append(QuerySpec(
        "source_mixture_sample",
        lambda sp, d: sampling.source_mixture_sample(
            _t(sp, d, "documents")),
        """
        SELECT source,
               CAST(CASE WHEN source IN
                      ('src0','src1','src2','src3','src4')
                    THEN 0.9 ELSE 0.25 END AS DOUBLE) AS target_frac,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN
                      (((doc_id % 2147483648) * 1103515245 + 12345) % 10000) / 10000.0
                      < CASE WHEN source IN
                          ('src0','src1','src2','src3','src4')
                        THEN 0.9 ELSE 0.25 END
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN
                      (((doc_id % 2147483648) * 1103515245 + 12345) % 10000) / 10000.0
                      < CASE WHEN source IN
                          ('src0','src1','src2','src3','src4')
                        THEN 0.9 ELSE 0.25 END
                    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM documents GROUP BY source, target_frac
        """,
        ("sampling", "mixture"),
        "deterministic source-mixture sampling (LCG-hash uniform vs "
        "per-source target weight); reproducible across engines/runs",
    ))

    _TOKS_CTE = f"toks AS (SELECT doc_id, lang, {_TOKS} AS w FROM documents)"
    s.append(QuerySpec(
        "repetition_stats",
        lambda sp, d: text.repetition_stats(_t(sp, d, "documents")),
        f"""
        WITH {_TOKS_CTE},
        per_tok AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
          GROUP BY doc_id, tok),
        tok_side AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(MAX(c) AS BIGINT) AS top_c,
                 MAX(struct_pack(c := c, tok := tok)) AS top,
                 CAST(SUM(c * length(tok)) AS BIGINT) AS tot_chars
          FROM per_tok GROUP BY doc_id),
        grams AS (
          SELECT doc_id,
                 [w[i+1] || ' ' || w[i+2]
                  for i in range(0, greatest(CAST(len(w) AS BIGINT) - 1, 0))] AS bg,
                 [w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  for i in range(0, greatest(CAST(len(w) AS BIGINT) - 2, 0))] AS tg
          FROM toks),
        gside AS (
          SELECT doc_id,
                 CASE WHEN len(bg) > 0 THEN
                   {round_det_sql("(len(bg) - len(list_distinct(bg))) / len(bg)", 4)}
                 ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_frac,
                 CASE WHEN len(tg) > 0 THEN
                   {round_det_sql("(len(tg) - len(list_distinct(tg))) / len(tg)", 4)}
                 ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac
          FROM grams)
        SELECT t.doc_id, n_tokens,
               {round_det_sql("top_c / n_tokens", 4)} AS top_token_frac,
               {round_det_sql("(top.c * length(top.tok)) / tot_chars", 4)} AS top_char_frac,
               dup_bigram_frac, dup_trigram_frac
        FROM tok_side t JOIN gside g ON t.doc_id = g.doc_id
        """,
        ("text", "quality"),
        "Gopher-style repetition filters: top-token count/char "
        "fractions + duplicate bigram/trigram fractions per document",
    ))
    s.append(QuerySpec(
        "bpe_merge_rules",
        lambda sp, d: bpe.learn_merges(_t(sp, d, "documents")),
        bpe.bpe_sql(),
        ("text", "bpe", "iterative"),
        "distributed BPE tokenizer induction: corpus → weighted word-type "
        "vocabulary → per-round pair-count agg + broadcast best pair + "
        "windowed greedy merge; oracle unrolls the rounds",
    ))
    s.append(QuerySpec(
        "idf_top_terms",
        lambda sp, d: text.idf_top_terms(_t(sp, d, "documents")),
        f"""
        WITH {_TOKS_CTE},
        tfq AS (
          SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT lang, unnest(w) AS tok FROM toks)
          GROUP BY lang, tok),
        dfq AS (
          SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS df
          FROM (SELECT lang, unnest(list_distinct(w)) AS tok FROM toks)
          GROUP BY lang, tok),
        nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
        scored AS (
          SELECT tfq.lang, tfq.tok, tfq.tf, dfq.df,
                 {round_det_sql("tfq.tf * (nd.n_docs + 1) / (dfq.df + 1)", 4)}
                   AS score
          FROM tfq
          JOIN dfq ON tfq.lang = dfq.lang AND tfq.tok = dfq.tok
          JOIN nd ON tfq.lang = nd.lang)
        SELECT lang, tok, tf, df, score, CAST(rk AS INTEGER) AS rk
        FROM (SELECT *, row_number() OVER
                (PARTITION BY lang ORDER BY score DESC, tok ASC) AS rk
              FROM scored)
        WHERE rk <= 5
        """,
        ("text", "agg", "window"),
        "per-language distinctive terms: corpus tf weighted by "
        "rational-form idf (N+1)/(df+1), top-5 per language",
    ))
    s.append(QuerySpec(
        "regression_by_flag",
        lambda sp, d: agg.linear_regression_by_group(_t(sp, d, "lineitem")),
        f"""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS BIGINT) AS n_l,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8)))
                      AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(l_extendedprice * l_extendedprice
                      AS DECIMAL(30,8))) AS DOUBLE) AS syy,
                 CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,8)))
                      AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag),
        d AS (
          SELECT l_returnflag, n_l, n, sx, sy,
                 (sxy - sx * sy / n) AS cov_n,
                 (sxx - sx * sx / n) AS varx_n,
                 (syy - sy * sy / n) AS vary_n
          FROM m)
        SELECT l_returnflag, n_l AS n,
               {round_det_sql("cov_n / varx_n", 6)} AS slope,
               {round_det_sql("(sy - (cov_n / varx_n) * sx) / n", 4)} AS intercept,
               {round_det_sql("cov_n / sqrt(varx_n * vary_n)", 6)} AS pearson_r,
               {round_det_sql(
                   "(cov_n / sqrt(varx_n * vary_n)) * (cov_n / sqrt(varx_n * vary_n))",
                   6)} AS r2
        FROM d
        """,
        ("agg", "stats"),
        "SQL:2003 regr_* family (slope/intercept/r/R²) from exact "
        "decimal moments — engine-stable where native corr() is not",
    ))
    s.append(QuerySpec(
        "daily_active_windows",
        # DAU / trailing-7d WAU / stickiness: bounded explode (≤7 rows
        # per event) + one distinct agg — never a day-grid range join.
        lambda sp, d: timeseries.daily_active_windows(_t(sp, d, "events")),
        f"""
        WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
        days AS (SELECT DISTINCT d AS day FROM ev),
        expanded AS (
          SELECT user_id, d, d + unnest([0, 1, 2, 3, 4, 5, 6]) AS day
          FROM ev),
        g AS (
          SELECT day,
                 COUNT(DISTINCT CASE WHEN day = d THEN user_id END)
                   AS dau_users,
                 COUNT(DISTINCT user_id) AS wau_users
          FROM expanded JOIN days USING (day)
          GROUP BY day)
        SELECT CAST(day AS TIMESTAMP) AS day, dau_users, wau_users,
               {round_det_sql("dau_users * 1.0 / wau_users", 4)} AS stickiness
        FROM g
        """,
        ("agg", "timeseries", "distinct"),
        "DAU / trailing-7d WAU / stickiness per day (bounded-fanout form)",
    ))
    s.append(QuerySpec(
        "decayed_value_by_type",
        # Half-life recency weighting with WEEKLY halvings: every
        # weight is an exact power of two, so value*weight is a pure
        # exponent shift and the decimal-exact sum kernel sees
        # engine-identical inputs (a continuous exp(-λt) decay would
        # differ between libm implementations).
        lambda sp, d: timeseries.decayed_value_by_type(_t(sp, d, "events")),
        f"""
        SELECT event_type, COUNT(*) AS n_events,
               {sum_sql(
                   "value * (1.0 / POW(2.0, GREATEST(FLOOR("
                   "date_diff('day', CAST(ts AS DATE), DATE '2024-02-01')"
                   " / 7.0), 0)))",
                   "decayed_value", 4)},
               {sum_sql("value", "raw_value", 4)}
        FROM events GROUP BY event_type
        """,
        ("agg", "timeseries", "decay"),
        "half-life time-decayed aggregate (exact dyadic weights)",
    ))
    s.append(QuerySpec(
        "resample_interpolate",
        lambda sp, d: timeseries.resample_interpolate(_t(sp, d, "events")),
        f"""
        WITH hourly AS (
          SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                 {round_det_sql(
                     "CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)"
                     " / COUNT(value)", 4)} AS val
          FROM events GROUP BY user_id, h),
        bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1
                   FROM hourly GROUP BY user_id),
        grid AS (
          SELECT user_id,
                 unnest([h0 + i for i in
                         range(0, CAST(h1 - h0 + 1 AS BIGINT))]) AS h
          FROM bounds WHERE h1 - h0 < 8784),
        g AS (
          SELECT grid.user_id, grid.h, hourly.val
          FROM grid LEFT JOIN hourly
            ON grid.user_id = hourly.user_id AND grid.h = hourly.h),
        f AS (
          SELECT user_id, h, val,
                 last_value(val IGNORE NULLS) OVER wp AS prev_val,
                 last_value(CASE WHEN val IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wp AS prev_h,
                 first_value(val IGNORE NULLS) OVER wn AS next_val,
                 first_value(CASE WHEN val IS NOT NULL THEN h END IGNORE NULLS)
                   OVER wn AS next_h
          FROM g
          WINDOW wp AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 wn AS (PARTITION BY user_id ORDER BY h
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        SELECT user_id, make_timestamp(h * 3600000000) AS bucket,
               val IS NOT NULL AS observed,
               CASE WHEN val IS NOT NULL THEN val
                    WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
                      {round_det_sql(
                          "prev_val + (next_val - prev_val)"
                          " * ((h - prev_h) / (next_h - prev_h))", 4)}
                    WHEN prev_val IS NOT NULL THEN prev_val
                    ELSE next_val END AS filled_value
        FROM f
        """,
        ("window", "time", "timeseries"),
        "hypertable-style resample: hourly buckets, gap-fill via "
        "per-key sequence(), linear interpolation through missing "
        "interior buckets (two frame-bounded window passes)",
    ))
    s.append(QuerySpec(
        "embedding_quantization",
        lambda sp, d: arrays.quantize_embeddings(_t(sp, d, "embeddings")),
        f"""
        WITH sc AS (
          SELECT vec_id, label, embedding,
                 CASE WHEN amax = 0 THEN CAST(1.0 AS DOUBLE)
                      ELSE amax / CAST(127.0 AS DOUBLE) END AS scale
          FROM (SELECT vec_id, label, embedding,
                       list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))) AS amax
                FROM embeddings)),
        cd AS (
          SELECT vec_id, label, embedding, scale,
                 list_transform(embedding, x -> CAST(least(greatest(
                   {round_det_sql("CAST(x AS DOUBLE) / scale", 0)},
                   CAST(-127.0 AS DOUBLE)), CAST(127.0 AS DOUBLE))
                   AS BIGINT)) AS codes
          FROM sc)
        SELECT vec_id, label,
               {round_det_sql("scale", 6)} AS q_scale,
               md5(array_to_string(list_transform(codes,
                 c -> CAST(c AS VARCHAR)), ',')) AS codes_fp,
               {round_det_sql(
                   "list_sum(list_transform(list_zip(embedding, codes),"
                   " p -> (CAST(p[1] AS DOUBLE) - p[2] * scale)"
                   " * (CAST(p[1] AS DOUBLE) - p[2] * scale)))"
                   " / len(embedding)", 8)} AS recon_mse
        FROM cd
        """,
        ("similarity", "embedding", "quantization"),
        "symmetric int8 scalar quantization per vector (4× ANN memory "
        "reduction path): scale, md5 code witness, reconstruction MSE",
    ))
    s.append(QuerySpec(
        "hll_reach_report",
        lambda sp, d: agg.hll_reach_report(_t(sp, d, "events")),
        """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n,
               TRUE AS mergeable,
               TRUE AS ok_5pct
        FROM events GROUP BY event_type
        """,
        ("agg", "sketch", "approx"),
        "DataSketches HLL reach: per-day sketches union-merged == "
        "direct sketch (mergeability witness) and within 5% of exact "
        "COUNT DISTINCT (accuracy witness); exact_n hash-checked",
    ))

    # Correlated LATERAL subquery — shared ANSI text, run verbatim by
    # BOTH engines (like supplier_revenue_sql). Spark decorrelates the
    # per-row LIMIT subquery into a ranked window; DuckDB executes it
    # as a dependent join — same rows either way.
    _LATERAL_SQL = """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 100
        """

    def _sql_api_lateral(sp: SparkSession, d: str) -> DataFrame:
        from big_data_exercise_spark.tables import register_views
        tune_session(sp)
        register_views(sp, d, ("customer", "orders"))
        return sp.sql(_LATERAL_SQL)

    s.append(QuerySpec(
        "lateral_top_orders",
        _sql_api_lateral,
        _LATERAL_SQL,
        ("join", "sql-api", "lateral"),
        "LATERAL correlated top-2 subquery per customer — identical "
        "ANSI text in both engines (SQL:1999 lateral derived table)",
    ))
    s.append(QuerySpec(
        "null_semantics_suite",
        lambda sp, d: agg.null_semantics_suite(_t(sp, d, "events")),
        f"""
        WITH base AS (
          SELECT event_id,
                 CASE WHEN event_type <> 'error' THEN event_type END AS nk,
                 CASE WHEN value >= 50 THEN value END AS v
          FROM events),
        ranked AS (
          SELECT *, CAST(row_number() OVER
            (PARTITION BY nk ORDER BY v ASC NULLS FIRST, event_id)
            AS INTEGER) AS rn
          FROM base)
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(v) AS BIGINT) AS n_v,
               {round_det_sql(
                   "CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE)", 2)} AS sum_v,
               CAST(SUM(CASE WHEN nk IS NOT DISTINCT FROM NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
               MIN(CASE WHEN rn = 1 THEN event_id END)
                 AS first_event_nulls_first
        FROM ranked GROUP BY nk
        """,
        ("agg", "null-semantics", "window"),
        "NULL contract: NULL-key grouping, count(col) vs count(*), "
        "NULL-skipping SUM, IS NOT DISTINCT FROM, ASC NULLS FIRST",
    ))
    s.append(QuerySpec(
        "value_percentiles_disc",
        lambda sp, d: agg.value_percentiles_disc(_t(sp, d, "events")),
        """
        SELECT event_type,
               quantile_disc(value, 0.5) AS p50_disc,
               quantile_disc(value, 0.9) AS p90_disc,
               MIN(value) AS p0_disc,
               MAX(value) AS p100_disc
        FROM events GROUP BY event_type
        """,
        ("agg", "percentile"),
        "percentile_disc WITHIN GROUP: actual-value quantiles, "
        "float-drift-free by construction (selection, no arithmetic)",
    ))
    s.append(QuerySpec(
        "json_path_extract",
        lambda sp, d: scalars.json_path_extract(_t(sp, d, "events")),
        """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_path,
               json_extract_string(props, '$.k') AS k_tuple,
               json_extract_string(props, '$.missing') AS missing_path,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long
        FROM events
        """,
        ("scalar", "json"),
        "schema-less JSON access: get_json_object path traversal + "
        "json_tuple fan-out; missing path -> NULL",
    ))
    s.append(QuerySpec(
        "governed_corpus",
        # auto-routed closure feed: see winnowing_cluster_assignment
        _on_docs(text.governed_corpus, winnow.closure_pairs_auto),
        f"""
        WITH RECURSIVE {_WINNOW_CTES},
        pairs AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 20),
        sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
        verdicts AS (
          SELECT node AS doc_id, (node = MIN(reach)) AS keep
          FROM walk GROUP BY node),
        rtoks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        rpt AS (
          SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT doc_id, unnest(w) AS tok FROM rtoks)
          GROUP BY doc_id, tok),
        rts AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(MAX(c) AS BIGINT) AS top_c
          FROM rpt GROUP BY doc_id),
        rbg AS (
          SELECT doc_id,
                 [w[i+1] || ' ' || w[i+2]
                  for i in range(0, greatest(CAST(len(w) AS BIGINT) - 1, 0))]
                   AS bg
          FROM rtoks),
        rrep AS (
          SELECT r.doc_id, n_tokens,
                 {round_det_sql("top_c / n_tokens", 4)} AS top_frac,
                 CASE WHEN len(bg) > 0 THEN
                   {round_det_sql("(len(bg) - len(list_distinct(bg))) / len(bg)", 4)}
                 ELSE CAST(0.0 AS DOUBLE) END AS dupbg
          FROM rts r JOIN rbg USING (doc_id)),
        {_GRAM_CTES},
        quarq AS (
          SELECT p.doc_id
          FROM per_doc p JOIN hits h ON p.doc_id = h.doc_id
          WHERE n_contaminated >= 1
            AND {round_det_sql("n_contaminated / n_grams", 4)} >= 0.5),
        gj AS (
          SELECT d.lang, v.keep, (d.doc_id % 97 = 0) AS is_bench,
                 (q.doc_id IS NOT NULL) AS quarantined,
                 COALESCE(r.n_tokens, 0) AS n_tok,
                 COALESCE(r.top_frac, CAST(0.0 AS DOUBLE)) AS top_frac,
                 COALESCE(r.dupbg, CAST(0.0 AS DOUBLE)) AS dupbg
          FROM documents d
          JOIN verdicts v ON d.doc_id = v.doc_id
          LEFT JOIN rrep r ON d.doc_id = r.doc_id
          LEFT JOIN quarq q ON d.doc_id = q.doc_id),
        gbucket AS (
          SELECT lang, n_tok,
                 CASE WHEN NOT keep THEN 'dup'
                      WHEN NOT (n_tok >= 30 AND top_frac <= 0.16
                                AND dupbg <= 0.08) THEN 'quality'
                      WHEN is_bench THEN 'benchmark'
                      WHEN quarantined THEN 'contaminated'
                      ELSE 'final' END AS bucket
          FROM gj)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN bucket = 'final' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_final,
               CAST(SUM(CASE WHEN bucket = 'final' THEN n_tok ELSE 0 END)
                    AS BIGINT) AS final_tokens,
               CAST(SUM(CASE WHEN bucket = 'dup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS drop_dup,
               CAST(SUM(CASE WHEN bucket = 'quality' THEN 1 ELSE 0 END)
                    AS BIGINT) AS drop_quality,
               CAST(SUM(CASE WHEN bucket = 'benchmark' THEN 1 ELSE 0 END)
                    AS BIGINT) AS drop_benchmark,
               CAST(SUM(CASE WHEN bucket = 'contaminated' THEN 1 ELSE 0 END)
                    AS BIGINT) AS drop_contaminated
        FROM gbucket GROUP BY lang
        """,
        ("text", "dedup", "governance", "flagship"),
        "the governance gauntlet: dedup closure -> quality gates -> "
        "benchmark holdout -> contamination quarantine, with "
        "first-failing-gate drop attribution per language",
    ))
    s.append(QuerySpec(
        "url_parse_fields",
        lambda sp, d: urls.url_parse_fields(_t(sp, d, "documents")),
        urls.url_parse_fields_sql(),
        ("urls", "scalar", "governance"),
        "URL anatomy via built-in parse_url (HOST/PATH/QUERY-param + "
        "public-suffix-lite registrable domain) vs string-op oracle — "
        "the crawl-metadata extraction stage of a web pipeline",
    ))
    s.append(QuerySpec(
        "domain_corpus_rollup",
        lambda sp, d: urls.domain_corpus_rollup(_t(sp, d, "documents")),
        urls.domain_corpus_rollup_sql(),
        ("urls", "agg", "dedup", "governance"),
        "per-registrable-domain curation rollup: docs, hosts, exact-dup "
        "rate (dedup_exact fingerprints), chars, corpus mixture weight "
        "— one domain-keyed hash agg + broadcast 1-row total",
    ))
    s.append(QuerySpec(
        "utf8_decode_accounting",
        lambda sp, d: encoding.utf8_decode_accounting(
            _t(sp, d, "documents")),
        encoding.utf8_decode_accounting_sql(),
        ("sources", "encoding", "udf", "governance"),
        "dirty-encoding ingest: planted latin-1/truncated/invalid "
        "bytes -> Arrow UTF-8 replacement decode with per-doc "
        "U+FFFD accounting; oracle reconstructs the expected decode "
        "analytically from the planting rule",
    ))
    s.append(QuerySpec(
        "audio_segment_energy",
        lambda sp, d: audio.audio_segment_energy(_t(sp, d, "events")),
        """
        WITH base AS (
          SELECT event_id,
                 CAST(256 + (event_id % 7) * 64 AS BIGINT) AS n
          FROM events WHERE event_id < 200),
        segs AS (
          SELECT event_id, n,
                 unnest([i for i in range(0, CAST(n // 64 AS BIGINT))]) AS seg
          FROM base)
        SELECT event_id, CAST(seg AS INTEGER) AS seg,
               CAST(n // 64 AS INTEGER) AS n_windows,
               CAST(list_sum(list_transform(
                 [((event_id * 2654435761 + (seg * 64 + k) * 40503) % 65536)
                  - 32768 for k in range(0, 64)],
                 x -> x * x)) AS BIGINT) AS energy
        FROM segs
        """,
        ("multimodal", "audio", "udf"),
        "binary audio clips -> mapInPandas framing -> int64 windowed "
        "mean-square energy; oracle recomputes via the closed-form "
        "sample function (the audio twin of frame_metadata)",
    ))
    s.append(QuerySpec(
        "document_chunks",
        lambda sp, d: text.chunk_documents(_t(sp, d, "documents")),
        f"""
        -- Linear form: explode tokens WITH ORDINALITY and route each
        -- token to its ≤2 owning chunks (width 100, stride 80), then
        -- one ordered string_agg per chunk. The obvious per-chunk
        -- list slice (w[st+1 : st+100] with w carried into every
        -- chunk row) re-materializes the full token list per chunk —
        -- O(len²/stride), measured 13 s at a 160k-token document and
        -- unbounded memory at the 10 MB giant-doc tier (round 9).
        WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        b AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n
              FROM t WHERE len(w) > 0),
        tok AS (SELECT doc_id, n, u.s.tok AS tok, u.s.pos AS pos
                FROM (SELECT doc_id, n,
                             unnest([{{'tok': w[i], 'pos': i}}
                                     for i in range(1, len(w) + 1)]) AS s
                      FROM b) u),
        cand AS (SELECT doc_id, n, tok, pos,
                        unnest([(pos - 1) // 80, (pos - 1) // 80 - 1]) AS k
                 FROM tok),
        ok AS (SELECT * FROM cand
               WHERE k >= 0 AND 80 * k < n
                 AND pos - 1 >= 80 * k AND pos - 1 < 80 * k + 100)
        SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
               CAST(least(100, n - 80 * k) AS INTEGER) AS chunk_tokens,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
        FROM ok GROUP BY doc_id, k, n
        """,
        ("text", "chunking", "reshape"),
        "sliding token-window chunking (100-token windows, stride 80) "
        "for RAG/long-doc prep; md5 chunk witness, zero-shuffle explode",
    ))

    return s


def all_queries() -> dict[str, QuerySpec]:
    return {spec.name: spec for spec in _specs()}
