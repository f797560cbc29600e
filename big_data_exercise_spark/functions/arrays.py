"""Array / embedding column math (SURVEY.md §2.9 array surface).

The reference slices a flat float array of model probabilities in
Python (consumer_postgres_streaming.py:382-386: 8 aspect probs +
8×3 sentiment triplets, argmax per triplet). Here that surface is
native Column algebra — slice / element_at / array_max /
array_position / aggregate — evaluated JVM-side.

All reductions cast float32 elements to double *before* summing so
results are exact-order deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


# The fixture/embedding vector width (FIXTURES.md). Operators over the
# embeddings table pass dim=EMBEDDING_DIM to get the codegen'd form.
EMBEDDING_DIM = 64


def dot_sql(a: str, b: str, dim: int) -> str:
    """SQL text of the fixed-width left-associative dot product —
    ``(((0+x₁y₁)+x₂y₂)+…)``, the exact association of the generic fold
    below and of the DuckDB oracle's list_sum, so results are
    bit-identical. Emitted as ONE SQL string because building the same
    tree Column-by-Column costs thousands of py4j round-trips (~8 s of
    driver time per 16-projection plan, measured), while parsing one
    string is a single call; and unlike the zip_with/aggregate fold
    (CodegenFallback, interpreted per element) the parsed chain
    compiles under whole-stage codegen. A vector shorter than ``dim``
    yields NULL (try_element_at out of range) rather than the fold's
    silent truncation — the stricter behavior, and the SAME behavior
    under ANSI mode: plain element_at returns NULL out-of-range only
    in permissive mode but throws under ANSI (Spark 4's default for
    embedding applications), so the try_ form is what the documented
    contract actually means."""
    terms = " + ".join(
        f"CAST(try_element_at({a}, {i}) AS DOUBLE) * CAST(try_element_at({b}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"CAST(0.0 AS DOUBLE) + {terms}"


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product of two array<float> columns, JVM-side (no UDF).

    ``dim=None``: zip_with + aggregate over Column operands — any
    length. With a statically known ``dim``, operands must be SQL
    expression strings and the codegen'd chain from ``dot_sql`` is
    used instead (same floats, ~10× faster on CPU-bound verifies)."""
    if dim is None:
        prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
    if not isinstance(a, str) or not isinstance(b, str):
        raise TypeError("fixed-dim dot() takes SQL expression strings")
    return F.expr(dot_sql(a, b, dim))


def norm(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def argmax_position(a: Column) -> Column:
    """1-based index of the max element (the reference's argmax over
    sentiment triplets, consumer_postgres_streaming.py:386)."""
    return F.array_position(a, F.array_max(a))


def slice_sum(a: Column, start: int, length: int) -> Column:
    """Sum of a slice (the 'first 8 aspect probabilities' pattern)."""
    piece = F.transform(F.slice(a, start, length), lambda x: x.cast("double"))
    return F.aggregate(piece, F.lit(0.0), lambda acc, v: acc + v)


def embedding_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector array analytics: argmax position, head-slice sum,
    L2 norm — all codegen'd Column algebra."""
    from big_data_exercise_spark.functions.numeric import round_det

    e = F.col("embedding")
    # raw folds materialized first: round_det references its argument
    # ~6×, and a non-cheap alias referenced more than once is never
    # inlined back by CollapseProject — the 64-term folds run once.
    return embeddings.select(
        "vec_id",
        "label",
        argmax_position(e).cast("int").alias("argmax_pos"),
        slice_sum(e, 1, 8).alias("__head8"),
        norm(e).alias("__norm"),
    ).select(
        "vec_id",
        "label",
        "argmax_pos",
        round_det(F.col("__head8"), 4).alias("head8_sum"),
        round_det(F.col("__norm"), 4).alias("l2_norm"),
    )


def embedding_predicates(embeddings: DataFrame) -> DataFrame:
    """Higher-order-function surface over array columns: exists /
    forall / filter run as codegen'd lambda expressions inside the JVM
    — the scale-correct way to ask per-element questions of an
    embedding without a UDF or an explode+regroup shuffle."""
    emb = F.col("embedding")
    return embeddings.select(
        "vec_id",
        F.exists(emb, lambda x: x < 0).alias("any_negative"),
        F.forall(emb, lambda x: F.abs(x) < 1.0).alias("all_unit_bounded"),
        # NULL embedding degrades the whole row to NULL (the tier's
        # documented dirty-row contract) — Spark's legacy size(NULL)
        # would otherwise emit -1 where the oracle's len(NULL) is NULL
        # (round-8 dirty-embedding probe)
        F.when(
            emb.isNotNull(), F.size(F.filter(emb, lambda x: x > 0))
        ).cast("int").alias("n_positive"),
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of each vector — the memory
    path that makes 100 TB ANN tractable (float32 → int8 is 4× less
    index RAM/IO; IVF probes then rescore the int8 survivors against
    full-precision vectors). Per vector: scale = amax/127,
    code_i = clamp(round(x_i/scale), ±127); emitted as the scale, an
    md5 witness of the code array, and the reconstruction MSE.

    All arithmetic is per-row Column algebra (zero shuffle), and every
    step is engine-exact: float→double casts, max (exact), one
    deterministic half-away-from-zero round (functions.numeric), and
    an in-order fold for the MSE — so the oracle reproduces the codes
    bit-for-bit."""
    from big_data_exercise_spark.functions.numeric import round_det

    e = F.col("embedding")
    # `scale` (which drags the amax fold with it) is materialized in
    # its own projection before the per-element lambdas: inlined, the
    # 64-element array_max subtree re-evaluates inside EVERY element's
    # lambda for every one of round_det's ~6 references — O(d²·refs)
    # per row instead of O(d).
    amax = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    staged = embeddings.select(
        "vec_id",
        "label",
        e.alias("embedding"),
        F.when(amax == 0, F.lit(1.0)).otherwise(amax / F.lit(127.0)).alias(
            "__scale"
        ),
    )
    scale = F.col("__scale")
    codes = F.transform(
        e,
        lambda x: F.least(
            F.greatest(round_det(x.cast("double") / scale, 0), F.lit(-127.0)),
            F.lit(127.0),
        ).cast("long"),
    )
    err = F.zip_with(
        e,
        codes,
        lambda x, q: (x.cast("double") - q * scale)
        * (x.cast("double") - q * scale),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v) / F.size(e)
    return staged.select(
        "vec_id",
        "label",
        round_det(scale, 6).alias("q_scale"),
        F.md5(F.array_join(codes.cast("array<string>"), ",")).alias("codes_fp"),
        mse.alias("__mse"),
    ).select(
        "vec_id",
        "label",
        "q_scale",
        "codes_fp",
        round_det(F.col("__mse"), 8).alias("recon_mse"),
    )


# Broadcast-gather gate: rows × dim × 8 B must stay a sane broadcast
# (500k × 64-dim float64 ≈ 256 MB). Above it the payload-join verify
# is the correct plan; below it shipping two vector payloads per
# CANDIDATE PAIR is the dominant cost, not the join itself — at the
# generated sf1 the LSH verify moved ~51 GB of per-pair float arrays
# through Arrow (measured 174 s end-to-end) where the id-only gather
# form ships 16 B/pair against a ~10 MB broadcast matrix.
GATHER_GATE_ROWS = 500_000


def gathered_pair_cosine(
    pairs,
    embeddings,
    id_col: str,
    emb_col: str,
    id1: str,
    id2: str,
    keep: list[str],
    dim: int = EMBEDDING_DIM,
):
    """Exact pairwise cosine over (id1, id2) candidate pairs, vectors
    GATHERED from a broadcast of the embedding table instead of joined
    onto every pair — the verify plan for candidate sets that dwarf
    the vector table (LSH/blocking output is O(Σ bucket²) pairs over
    O(N) vectors).

    Bit-parity with :func:`arrow_pair_cosine` by construction: the
    gathered rows go through the IDENTICAL dimension-ordered float64
    accumulation, the same fixed-``dim`` validity rule (NULL/ragged
    embedding → NULL cos_raw for that row, judged against the corpus
    dim, never batch content), the same zero-norm → NULL division
    guard, and inner-join id semantics (a pair whose id is absent
    from the embedding table is dropped, exactly as the join would).
    Precondition shared with the join form: ``id_col`` is unique —
    a duplicated id would fan the join out where the gather keeps one
    row (the gather resolves to the FIRST occurrence among equal ids:
    ``np.searchsorted`` with its default ``side='left'`` over the
    stable mergesort argsort lands on the earliest input row; pinned
    by ``test_gather_duplicate_id_resolves_first``).

    This function collects the embedding table to the driver and ships
    it once per executor via a TorrentBroadcast, so
    :func:`pair_cosine` runs it only under :data:`GATHER_GATE_ROWS`.
    """
    import numpy as np

    spark = pairs.sparkSession
    emb_pd = embeddings.select(id_col, emb_col).toPandas()
    ids = emb_pd[id_col].to_numpy(dtype=np.int64)
    raw = emb_pd[emb_col].to_numpy()
    valid = np.fromiter(
        (v is not None and len(v) == dim for v in raw), dtype=bool, count=len(raw)
    )
    mat = np.zeros((len(raw), dim), dtype=np.float64)
    if valid.any():
        mat[valid] = np.vstack(raw[valid]).astype(np.float64)
    order = np.argsort(ids, kind="mergesort")
    bc = spark.sparkContext.broadcast((ids[order], mat[order], valid[order]))

    schema = ", ".join(
        [f"{c} {t}" for c, t in pairs.select(*keep).dtypes] + ["cos_raw double"]
    )

    def _cos(batches):
        import pandas as pd

        sids, smat, svalid = bc.value
        if not len(sids):
            # Empty embedding table: the inner join would drop every
            # pair; without this guard np.clip(i, 0, -1) feeds sids[i]
            # an out-of-range index and the executor raises instead of
            # returning the empty result.
            return
        for pdf in batches:
            if not len(pdf):
                continue
            k1 = pdf[id1].to_numpy(dtype=np.int64)
            k2 = pdf[id2].to_numpy(dtype=np.int64)
            i1 = np.searchsorted(sids, k1)
            i2 = np.searchsorted(sids, k2)
            i1c = np.clip(i1, 0, len(sids) - 1)
            i2c = np.clip(i2, 0, len(sids) - 1)
            found = (sids[i1c] == k1) & (sids[i2c] == k2)
            if not found.all():
                pdf = pdf[found]
                i1c, i2c = i1c[found], i2c[found]
                if not len(pdf):
                    continue
            ok = svalid[i1c] & svalid[i2c]
            v1, v2 = smat[i1c], smat[i2c]
            n = len(pdf)
            vals = np.zeros(n)
            null = ~ok
            d = np.zeros(n)
            n1 = np.zeros(n)
            n2 = np.zeros(n)
            # same left-associative per-dimension accumulation as
            # arrow_pair_cosine / dot_sql / DuckDB's list_sum fold
            for i in range(dim):
                d += v1[:, i] * v2[:, i]
                n1 += v1[:, i] * v1[:, i]
                n2 += v2[:, i] * v2[:, i]
            denom = np.sqrt(n1) * np.sqrt(n2)
            zero = denom == 0.0
            vals = np.where(ok, d / np.where(zero, 1.0, denom), 0.0)
            null = null | (ok & zero)
            out = pdf[keep].copy()
            out["cos_raw"] = pd.arrays.FloatingArray(vals, null)
            yield out

    return pairs.mapInPandas(_cos, schema=schema)


def arrow_pair_cosine(
    paired, e1: str, e2: str, keep: list[str], dim: int = EMBEDDING_DIM
):
    """Exact pairwise cosine as ONE Arrow pass: ``cos_raw`` appended to
    the ``keep`` columns. Accumulates dimension-by-dimension across the
    batch (``acc += v1[:, i] * v2[:, i]``) — the identical
    left-associative double-add order of ``dot_sql`` and of the DuckDB
    ``list_sum`` fold, so results are bit-equal to the SQL chain.

    Exists because the unrolled fixed-dim chain, while ideal in a
    simple projection, exceeds the JVM's 64 KB generated-method limit
    when FUSED into a join's doConsume (observed for the 3×64-term
    verify cosine inside BroadcastHashJoin / double-join stages): the
    whole stage then silently falls back to interpreted execution.
    Use this for verify stages that sit on top of joins; keep the SQL
    chain for plain scans. Rounding is left to the caller, Spark-side.
    """
    import numpy as np

    schema = ", ".join(
        [f"{c} {t}" for c, t in paired.select(*keep).dtypes] + ["cos_raw double"]
    )

    def _cos(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            a1 = pdf[e1].to_numpy()
            a2 = pdf[e2].to_numpy()
            # Dirty-corpus degradation, matching the SQL chain this
            # replaces: a NULL or ragged embedding makes THAT row's
            # cos_raw NULL (zip_with over mismatched lengths sums a
            # NULL term) instead of np.vstack throwing away the whole
            # Arrow batch; a zero-norm pair divides by zero, which
            # Spark's non-ANSI Divide returns as NULL, not IEEE NaN.
            # Validity is judged against the FIXED corpus dimension
            # (the SQL chain is unrolled to it) — never inferred from
            # batch content, which would make a row's fate depend on
            # which rows happen to share its Arrow batch.
            ok = np.fromiter(
                (
                    v1 is not None and v2 is not None
                    and len(v1) == dim and len(v2) == dim
                    for v1, v2 in zip(a1, a2)
                ),
                dtype=bool,
                count=len(pdf),
            )
            vals = np.zeros(len(pdf))
            null = ~ok
            if ok.any():
                v1 = np.vstack(a1[ok]).astype(np.float64)
                v2 = np.vstack(a2[ok]).astype(np.float64)
                n = int(ok.sum())
                d = np.zeros(n)
                n1 = np.zeros(n)
                n2 = np.zeros(n)
                for i in range(v1.shape[1]):
                    d += v1[:, i] * v2[:, i]
                    n1 += v1[:, i] * v1[:, i]
                    n2 += v2[:, i] * v2[:, i]
                denom = np.sqrt(n1) * np.sqrt(n2)
                zero = denom == 0.0
                vals[ok] = d / np.where(zero, 1.0, denom)
                null[np.flatnonzero(ok)[zero]] = True
            out = pdf[keep].copy()
            out["cos_raw"] = pd.arrays.FloatingArray(vals, null)
            yield out

    return paired.mapInPandas(_cos, schema=schema)


def pair_cosine(pairs, vectors, n_vectors: int, keep: list[str]):
    """Exact cosine verify of id-only candidate pairs (``id1``,
    ``id2``) against ``vectors`` (``vec_id``, ``embedding``; checkpointed,
    ``n_vectors`` rows): ``cos_raw`` appended to the ``keep`` columns.

    Two physically different, bit-identical plans:

    * gather (``n_vectors`` ≤ :data:`GATHER_GATE_ROWS`): candidates
      stay (long, long) rows and vectors are looked up in a broadcast
      matrix (:func:`gathered_pair_cosine`). A blocking or LSH
      candidate set is O(Σ bucket²) — at the generated sf1 the
      payload-join form shipped ~51 GB of per-pair float arrays
      through Arrow; the gather ships 16 B/pair against a ~10 MB
      broadcast (the LSH query fell 174 s → 37 s together with its
      shuffle cuts).
    * id join (above the gate): both vectors joined onto each pair,
      then :func:`arrow_pair_cosine` — the plan for a vector table too
      big to broadcast; pair traffic dominates either way and the join
      keeps everything distributed.

    The unrolled 3×64-term SQL chain is not an option in either
    regime: fused with the verify joins it blew the JVM's 64 KB
    generated-method limit and dropped the stage to interpreted
    execution. NULL/ragged vectors come back with NULL ``cos_raw`` in
    both.
    """
    if n_vectors <= GATHER_GATE_ROWS:
        return gathered_pair_cosine(
            pairs, vectors, "vec_id", "embedding", "id1", "id2", keep
        )
    v1 = vectors.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    v2 = vectors.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    return arrow_pair_cosine(pairs.join(v1, "id1").join(v2, "id2"), "e1", "e2", keep)
