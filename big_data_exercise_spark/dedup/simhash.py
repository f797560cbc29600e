"""SimHash near-duplicate detection (64-bit).

Per doc: hash each distinct token to 64 bits (xxhash64), sum ±1 per
bit position over tokens, simhash bit i = (sum_i > 0). Candidates:
split the 64 bits into four 16-bit bands; docs sharing any band value
are compared by Hamming distance (bit_count of xor).

All relational: per-doc array expressions for the 64 bit sums (no
shuffle) → exact-dup collapse on the simhash value
(:func:`cluster.exact_dup_collapse`) → band bucketing join over the
representatives → expansion back to member pairs. xxhash64 is
Spark-internal, so the production operator is verified by property
tests (duplicate texts → distance 0; perturbations → small distance),
not a SQL oracle — recorded as a rows-only check; the
engine-replayable bit family (:func:`signatures_checked`) carries the
oracle-checked twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from big_data_exercise_spark.dedup.cluster import exact_dup_collapse, member_pairs
from big_data_exercise_spark.functions.text import tokens

BITS = 64
BANDS = 4
BAND_BITS = BITS // BANDS


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash long) — ZERO shuffles (round 11, guide §2.4).

    The per-doc bit sums are reductions of the doc's own distinct
    token-hash SET, so they are computed as array expressions over one
    (doc_id, hashes) row — no explode, no corpus-scale groupBy
    exchange. Each ±1 bit sum is ``2·(bits-set count) − n``: one
    ``filter`` size per bit instead of a 64-way conditional aggregate.
    Docs whose token set is empty never reached the old long form
    (explode of [] emits no rows) and so had no signature row; the
    size filter keeps that contract."""
    from big_data_exercise_spark.tables import ensure_parallelism

    documents = ensure_parallelism(documents)  # tokenize+64 sums are CPU-bound
    hs = documents.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens(F.col("text"))), lambda t: F.xxhash64(t)
        ).alias("hs"),
    ).filter(F.size("hs") > 0)
    n = F.size("hs")
    bit_sums = [
        (
            2
            * F.size(
                F.filter(
                    "hs",
                    lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
                )
            )
            - n
        ).alias(f"s{i}")
        for i in range(BITS)
    ]
    sums = hs.select("doc_id", *bit_sums)
    return sums.select("doc_id", _pack_bits().alias("simhash"))


def _pack_bits():
    """Sign-bit packing s0..s63 → one long: the ONE copy of the tie
    rule (s_i > 0 → bit set) and the shiftleft construction, shared by
    the production and oracle-checked signature variants so they can
    never disagree on bit patterns. shiftleft (not Python <<, which is
    undefined on Column); the JVM-side shift wraps bit 63 into the
    sign bit, which is fine for a bit pattern."""
    sim = F.lit(0).cast("long")
    for i in range(BITS):
        sim = sim + F.when(
            F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return sim


def hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


# Engine-replayable bit-hash family for the oracle-CHECKED variant:
# bit_i(tok) = ((BIT_A(i)·rank(tok) + BIT_B(i)) mod P2) mod 2 over the
# sorted-vocabulary rank — every step is exact integer SQL, so DuckDB
# replays the full pipeline bit-for-bit (the production xxhash64 mode
# cannot be replayed and carries the rows-only check instead).
P2 = 8191


def _bit_a(i: int) -> int:
    return 2 * i + 3


def _bit_b(i: int) -> int:
    return i + 1


def signatures_checked(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash long) with the engine-replayable bit family.
    Same single-shuffle shape as ``simhash_signatures``; the vocabulary
    ranking join is the test-SF-only concession (exactly like
    MinHash's vocab_rank mode — production is the xxhash path)."""
    from big_data_exercise_spark.dedup.minhash import doc_token_ids

    tt = doc_token_ids(documents, use_vocab_ranks=True)
    bit_sums = [
        F.sum(
            F.when(
                ((F.lit(_bit_a(i)) * F.col("tok_id") + F.lit(_bit_b(i))) % P2) % 2
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(BITS)
    ]
    sums = tt.groupBy("doc_id").agg(*bit_sums)
    return sums.select("doc_id", _pack_bits().alias("simhash"))


def oracle_sql_checked(toks_sql: str, max_distance: int = 3) -> str:
    """DuckDB twin of ``near_duplicates(checked=True)``. ``toks_sql``
    is the engine's canonical tokenizer expression over ``text``
    (must match functions.text.tokens)."""
    sum_exprs = ", ".join(
        f"SUM(CASE WHEN (({_bit_a(i)}*tok_id+{_bit_b(i)})%{P2})%2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i in range(BITS)
    )
    key_exprs = ", ".join(
        " + ".join(
            f"(CASE WHEN s{b * BAND_BITS + r} > 0 THEN {2**r} ELSE 0 END)"
            for r in range(BAND_BITS)
        )
        + f" AS k{b}"
        for b in range(BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, k{b} AS key FROM keys"
        for b in range(BANDS)
    )
    dist = " + ".join(
        f"bit_count(xor(x.k{b}, y.k{b}))" for b in range(BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({toks_sql})) AS tok FROM documents),
    vocab AS (
      SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS tok_id
      FROM (SELECT DISTINCT tok FROM toks) v),
    tt AS (SELECT doc_id, tok_id FROM toks JOIN vocab USING (tok)),
    sums AS (SELECT doc_id, {sum_exprs} FROM tt GROUP BY doc_id),
    keys AS (SELECT doc_id, {key_exprs} FROM sums),
    bands AS ({band_union}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                               AND a.doc_id < b.doc_id)
    SELECT id1, id2, CAST({dist} AS INTEGER) AS distance
    FROM cand
    JOIN keys x ON x.doc_id = id1
    JOIN keys y ON y.doc_id = id2
    WHERE {dist} <= {max_distance}
    """


def near_duplicates(
    documents: DataFrame, max_distance: int = 3, checked: bool = False
) -> DataFrame:
    """Banded SimHash near-dup pairs: (id1, id2, distance ≤ max).

    With 4 bands of 16 bits, any pair within Hamming distance 3 shares
    at least one exact band (pigeonhole) → no recall loss vs all-pairs
    at bucket-join cost.

    Like minhash, the banding/join runs once per DISTINCT simhash
    value (docs with identical token sets — or merely sign-identical
    bit sums — collapse onto the min doc_id), then pairs expand back
    through ``rep_id``: same-hash pairs at distance 0, cross-hash
    pairs with the representative distance. On duplicative corpora
    the bucket join shrinks quadratically with cluster size.
    """
    if max_distance > BANDS - 1:
        # The pigeonhole guarantee stops at BANDS−1 flipped bits: a
        # pair at distance BANDS can straddle every band and never
        # share a bucket. Accepting a larger radius would silently
        # return partial recall (round-6 review finding).
        raise ValueError(
            f"banded SimHash guarantees recall only for max_distance <= "
            f"{BANDS - 1} (got {max_distance}); raise BANDS or use an "
            f"all-pairs verify for larger radii"
        )
    sig_fn = signatures_checked if checked else simhash_signatures
    collapsed = exact_dup_collapse(sig_fn(documents), "simhash")
    reps = collapsed.filter(F.col("doc_id") == F.col("rep_id"))

    banded = None
    for b in range(BANDS):
        piece = reps.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * BAND_BITS)
            .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
            .alias("key"),
        )
        banded = piece if banded is None else banded.unionByName(piece)
    left = banded.select(
        F.col("doc_id").alias("id1"), F.col("simhash").alias("sh1"), "band", "key"
    )
    right = banded.select(
        F.col("doc_id").alias("id2"), F.col("simhash").alias("sh2"), "band", "key"
    )
    rep_pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming(F.col("sh1"), F.col("sh2")).alias("distance"))
        .filter(F.col("distance") <= max_distance)
        .distinct()
    )
    # same-hash members pair at distance 0, which a negative radius
    # excludes
    intra = None if max_distance < 0 else F.lit(0).cast("integer")
    return member_pairs(collapsed, rep_pairs, "distance", intra)
