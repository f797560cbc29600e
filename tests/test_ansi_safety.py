"""ANSI-mode safety for the production dedup/similarity tier.

The repo's own sessions pin ``spark.sql.ansi.enabled=false`` (the
oracle's permissive-cast semantics need it — see session.py), but
Spark 4 defaults ANSI ON, so an embedding application that builds its
own session gets strict overflow checking. The production paths a
100 TB pipeline actually runs — xxhash64-id MinHash, SimHash,
set-similarity joins — must not rely on silent wraparound: before the
mod-P pre-reduction in ``minhash._signatures_from_ids`` the signature
multiply (41 · 63-bit id) crashed every job under ANSI, and
``abs(xxhash64(...))`` throws on the (astronomically rare)
Long.MIN_VALUE hash. These tests run the pipelines under ANSI=true and
pin that the results are IDENTICAL to the ANSI=false plans — the
arithmetic is genuinely in-range, not merely tolerated.
"""

from __future__ import annotations

import pytest

from big_data_exercise_spark.dedup import minhash, simhash
from big_data_exercise_spark.dedup.ssjoin import (
    exact_jaccard_pairs,
    incremental_jaccard_pairs,
)
from big_data_exercise_spark.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture()
def ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_prod_ansi_identical(ansi):
    """The 100 TB mode (xxhash64 token ids, no vocab) under ANSI: no
    overflow, and pair-for-pair identical output to the permissive
    plan — the signature arithmetic stays below 41·8191."""
    docs = load_table(ansi, SF_DIR, "documents")
    under_ansi = _pairs(minhash.near_duplicates(docs))
    ansi.conf.set("spark.sql.ansi.enabled", "false")
    permissive = _pairs(minhash.near_duplicates(docs))
    assert under_ansi == permissive
    assert len(under_ansi) > 0  # sf0.001 contains planted near-dups


def test_minhash_vocab_ansi_identical(ansi):
    """The oracle-replayable vocab-rank mode is also ANSI-clean, and
    the mod-P pre-reduction left its values untouched (the DuckDB
    parity gate in test_oracle_parity pins the absolute values)."""
    docs = load_table(ansi, SF_DIR, "documents")
    under_ansi = _pairs(minhash.near_duplicates(docs, use_vocab_ranks=True))
    ansi.conf.set("spark.sql.ansi.enabled", "false")
    permissive = _pairs(minhash.near_duplicates(docs, use_vocab_ranks=True))
    assert under_ansi == permissive


def test_simhash_ansi_identical(ansi):
    """Bit-pattern assembly (shiftleft into the sign bit, ±1 sums) is
    in-range arithmetic, not tolerated overflow: identical signatures
    with ANSI strictness on."""
    docs = load_table(ansi, SF_DIR, "documents")
    under_ansi = _pairs(simhash.simhash_signatures(docs))
    ansi.conf.set("spark.sql.ansi.enabled", "false")
    permissive = _pairs(simhash.simhash_signatures(docs))
    assert under_ansi == permissive


def test_value_ranks_ansi_and_rank_cast_order(ansi):
    """`value_ranks` must filter on the LONG rank before the int cast
    (a 100 TB group's row number exceeds int32 — pre-filter casting
    wraps silently in permissive mode and throws under ANSI), and the
    ANSI run must match the permissive run row-for-row."""
    from big_data_exercise_spark.operators.windows import value_ranks

    events = load_table(ansi, SF_DIR, "events")
    under_ansi = _pairs(value_ranks(events))
    ansi.conf.set("spark.sql.ansi.enabled", "false")
    assert under_ansi == _pairs(value_ranks(events))
    assert len(under_ansi) > 0


def test_fixture_dot_ragged_null_under_ansi(ansi):
    """The codegen'd fixed-width dot chain documents NULL for vectors
    shorter than ``dim``; with plain element_at that was only the
    permissive-mode behavior (ANSI throws on out-of-range). The
    try_element_at form must yield NULL in BOTH modes."""
    from big_data_exercise_spark.functions.arrays import dot_sql

    df = ansi.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 1.0, 1.0, 1.0])], "id long, e array<double>"
    )
    expr = dot_sql("e", "e", 4) + " AS d"
    got_ansi = {(r.id, r.d) for r in df.selectExpr("id", expr).collect()}
    ansi.conf.set("spark.sql.ansi.enabled", "false")
    got_perm = {(r.id, r.d) for r in df.selectExpr("id", expr).collect()}
    assert got_ansi == got_perm == {(1, None), (2, 4.0)}


def test_ssjoin_ansi_identical(ansi):
    """Exact and incremental set-similarity joins (masked xxhash64
    token ids) run clean under ANSI."""
    docs = load_table(ansi, SF_DIR, "documents")
    under_ansi = _pairs(exact_jaccard_pairs(docs, threshold=0.8))
    inc_ansi = _pairs(incremental_jaccard_pairs(docs))
    ansi.conf.set("spark.sql.ansi.enabled", "false")
    assert under_ansi == _pairs(exact_jaccard_pairs(docs, threshold=0.8))
    assert inc_ansi == _pairs(incremental_jaccard_pairs(docs))
