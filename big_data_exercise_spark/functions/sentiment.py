"""Keyword sentiment scorer — the engine's analog of the reference's
ABSA inference UDF (U1/U2).

The reference runs a transformer inside a pandas_udf with a
deterministic keyword fallback when the model artifact is missing
(consumer_postgres_streaming.py:257-327, fallback :329-368; decode
:373-389). We keep exactly that architecture — lazy per-worker
scorer, Arrow-batched pandas UDF, deterministic rules — but make the
deterministic path the primary one so every result is
oracle-checkable. Swapping in a real model is a one-line change to
``_score_batch`` (load-once singleton, same signature).

The rule set is defined over the corpus vocabulary: 'fast'/'small'
positive, 'slow'/'big' negative; label = POS / NEG / NEU by count
comparison (ties and no-hits → NEU), mirroring the reference's
keyword-count fallback semantics.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

POSITIVE = ("fast", "small")
NEGATIVE = ("slow", "big")

_RESULT_TYPE = T.StructType(
    [
        T.StructField("n_pos", T.IntegerType()),
        T.StructField("n_neg", T.IntegerType()),
        T.StructField("label", T.StringType()),
    ]
)


def _score_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized scoring of one Arrow batch. A real model drops in
    here as a per-worker lazy singleton (the reference's pattern at
    consumer_postgres_streaming.py:259-294)."""
    def score(text: str) -> tuple[int, int, str]:
        words = text.split() if isinstance(text, str) else []
        n_pos = sum(1 for w in words if w in POSITIVE)
        n_neg = sum(1 for w in words if w in NEGATIVE)
        label = "POS" if n_pos > n_neg else ("NEG" if n_neg > n_pos else "NEU")
        return n_pos, n_neg, label

    scored = texts.map(score)
    return pd.DataFrame(
        {
            "n_pos": scored.map(lambda t: t[0]),
            "n_neg": scored.map(lambda t: t[1]),
            "label": scored.map(lambda t: t[2]),
        }
    )


sentiment_udf = F.pandas_udf(_score_batch, _RESULT_TYPE)


def score_documents(documents: DataFrame) -> DataFrame:
    """Struct-returning pandas UDF + flatten (the U4 'struct result'
    shape, fire_consumer_streaming.py:146-233, re-expressed)."""
    scored = documents.select(
        "doc_id", sentiment_udf(F.col("text")).alias("s")
    )
    return scored.select(
        "doc_id",
        F.col("s.n_pos").alias("n_pos"),
        F.col("s.n_neg").alias("n_neg"),
        F.col("s.label").alias("label"),
    )


def sentiment_distribution(documents: DataFrame) -> DataFrame:
    """Sentiment histogram per language — the streamlit_app.py:76-81
    value-counts dashboard query, computed in Spark over the UDF
    output."""
    return (
        score_documents(documents)
        .join(documents.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "label")
        .agg(F.count("*").alias("n"))
    )


# --- aspect-based sentiment (the reference's distinctive output) --------

# Aspect lexicons over the corpus vocabulary — the analog of the
# reference's 8 fixed aspects (Price, Shipping, Outlook, Quality, Size,
# Shop_Service, General, Others; data/test_data.csv:1). Dict order is
# the output column order.
ASPECTS = {
    "joins": ("join", "merge"),
    "scans": ("scan", "filter"),
    "streams": ("stream", "window"),
    "storage": ("table", "row", "column"),
}
ASPECT_WINDOW = 3  # opinion words within ±3 tokens of an aspect mention


def aspect_sentiments(documents: DataFrame) -> DataFrame:
    """Aspect-based sentiment — the reference's distinctive OUTPUT
    SHAPE (``absa_results(ReviewText, Price, …, Others)``: one label
    column per fixed aspect, with an explicit absent state —
    ``consumer_postgres_streaming.py:419-432``, label decode
    ``train_absa_model.py:103-124``), produced deterministically so a
    SQL oracle replays it bit-for-bit.

    Semantics: a document's label for an aspect is POS/NEG/NEU by
    counting opinion-word occurrences (the module lexicon) within
    ``ASPECT_WINDOW`` tokens of ANY of that aspect's keyword
    occurrences — every (mention, opinion) pair counts once — and
    ABSENT when the document never mentions the aspect (the
    reference's −1 class).

    Plan shape (measured, not aspirational): TWO token projections of
    the raw space-split — mentions (broadcast keyword join) and
    opinions (literal filter); positions keep empty-token slots so
    both engines index identically. The pairing is one LEFT doc_id
    equi-join (mentions survive with no nearby opinion — that is the
    NEU case, so no separate presence branch rescans the corpus) with
    the |Δpos| ≤ w predicate counted INSIDE the aggregate, never a
    cross product. Keyed shuffles: the pair join on doc_id, the
    per-(doc, aspect) count aggregate, the grid restore and the final
    pivot — all partial-aggregated and bounded by mention×opinion
    pairs per doc, with the keyword table and the doc×aspect grid on
    broadcasts.
    """
    spark = documents.sparkSession
    toks = documents.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias("pos", "w"),
    )
    pairs = [(a, k) for a, ks in ASPECTS.items() for k in ks]
    aspects = spark.createDataFrame(
        pa.table({"aspect": [a for a, _ in pairs], "kw": [k for _, k in pairs]})
    )
    hits = toks.join(
        F.broadcast(aspects), toks["w"] == aspects["kw"]
    ).select("doc_id", "aspect", "pos")
    pol = (
        F.when(F.col("w").isin(*POSITIVE), F.lit(1))
        .when(F.col("w").isin(*NEGATIVE), F.lit(-1))
    )
    ops = (
        toks.select("doc_id", F.col("pos").alias("opos"), pol.alias("pol"))
        .filter(F.col("pol").isNotNull())
    )
    # LEFT join: a mention with no opinion in the doc still survives
    # (one null-pol row) and aggregates to 0/0 → NEU, so presence
    # needs no second pass over the corpus; the window predicate is
    # counted inside the aggregate, not pre-filtered, for the same
    # reason.
    near = F.abs(F.col("pos") - F.col("opos")) <= ASPECT_WINDOW
    scored = (
        hits.join(ops, "doc_id", "left")
        .groupBy("doc_id", "aspect")
        .agg(
            F.sum(
                F.when(near & (F.col("pol") == 1), 1).otherwise(0)
            ).alias("np"),
            F.sum(
                F.when(near & (F.col("pol") == -1), 1).otherwise(0)
            ).alias("nn"),
        )
    )
    labeled = scored.select(
        "doc_id",
        "aspect",
        F.when(F.col("np") > F.col("nn"), "POS")
        .when(F.col("nn") > F.col("np"), "NEG")
        .otherwise("NEU")
        .alias("label"),
    )
    grid = documents.select("doc_id").crossJoin(
        F.broadcast(aspects.select("aspect").distinct())
    )
    full = grid.join(labeled, ["doc_id", "aspect"], "left").withColumn(
        "label", F.coalesce("label", F.lit("ABSENT"))
    )
    return (
        full.groupBy("doc_id")
        .pivot("aspect", list(ASPECTS))
        .agg(F.max("label"))
    )


def aspect_sentiments_sql() -> str:
    """DuckDB oracle replaying aspect_sentiments exactly: same raw
    split positions (empty slots kept), same lexicons, same window,
    same pair-counting, same ABSENT fill."""
    kw_rows = ", ".join(
        f"('{a}', '{k}')" for a, ks in ASPECTS.items() for k in ks
    )
    pos_set = ", ".join(f"'{w}'" for w in POSITIVE)
    neg_set = ", ".join(f"'{w}'" for w in NEGATIVE)
    pivots = ",\n               ".join(
        f"MAX(CASE WHEN aspect = '{a}' THEN label END) AS {a}"
        for a in ASPECTS
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, u.pos AS pos, u.w AS w FROM (
            SELECT doc_id, unnest([{{'pos': i - 1, 'w': parts[i]}}
                                   for i in range(1, len(parts) + 1)]) AS u
            FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS parts
                  FROM documents) t) q),
        aspects(aspect, kw) AS (VALUES {kw_rows}),
        hits AS (
          SELECT doc_id, aspect, pos FROM toks JOIN aspects ON w = kw),
        ops AS (
          SELECT doc_id, pos AS opos,
                 CASE WHEN w IN ({pos_set}) THEN 1 ELSE -1 END AS pol
          FROM toks WHERE w IN ({pos_set}, {neg_set})),
        paired AS (
          SELECT h.doc_id, h.aspect, o.pol
          FROM hits h JOIN ops o
            ON h.doc_id = o.doc_id AND ABS(h.pos - o.opos) <= {ASPECT_WINDOW}),
        scored AS (
          SELECT doc_id, aspect,
                 SUM(CASE WHEN pol = 1 THEN 1 ELSE 0 END) AS np,
                 SUM(CASE WHEN pol = -1 THEN 1 ELSE 0 END) AS nn
          FROM paired GROUP BY 1, 2),
        present AS (SELECT DISTINCT doc_id, aspect FROM hits),
        labeled AS (
          SELECT p.doc_id, p.aspect,
                 CASE WHEN COALESCE(np, 0) > COALESCE(nn, 0) THEN 'POS'
                      WHEN COALESCE(nn, 0) > COALESCE(np, 0) THEN 'NEG'
                      ELSE 'NEU' END AS label
          FROM present p LEFT JOIN scored s USING (doc_id, aspect)),
        grid AS (
          SELECT d.doc_id, a.aspect
          FROM (SELECT doc_id FROM documents) d
          CROSS JOIN (SELECT DISTINCT aspect FROM aspects) a),
        fullg AS (
          SELECT g.doc_id, g.aspect, COALESCE(l.label, 'ABSENT') AS label
          FROM grid g LEFT JOIN labeled l USING (doc_id, aspect))
        SELECT doc_id,
               {pivots}
        FROM fullg GROUP BY doc_id
    """
