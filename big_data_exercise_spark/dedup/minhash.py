"""MinHash + LSH near-duplicate detection.

Pipeline (all relational, no UDFs):

1. tokenize → distinct tokens per doc (set semantics);
2. map token → integer id. Two modes:
   * ``xxhash`` (default): ids are xxhash64(token) — no vocabulary
     pass at all; the 100 TB mode (the vocabulary of a noisy web
     corpus is billions of entries, so never materialize it).
   * ``vocab_rank``: ids are the rank of the token in the sorted
     global vocabulary. Fully engine-independent → the whole pipeline
     is DuckDB-oracle-checkable. The rank is the distributed
     range-partitioned row_number (operators.windows.global_row_number)
     — no single-partition window — but the mode still materializes
     the vocabulary, so production stays xxhash.
3. k universal-hash functions h_j(x) = (a_j·x + b_j) mod P; MinHash
   signature = per-doc min of each h_j, computed as ARRAY expressions
   over the per-doc token-id array (array_min ∘ transform) — no
   explode, no groupBy: in xxhash mode the pipeline reaches banding
   with zero shuffles (round 11, guide §2.4);
4. LSH banding: split the k mins into b bands of r rows; docs sharing
   any (band, band-signature) bucket are candidates, emitted from the
   FIRST matching band only (unique by construction — no distinct
   exchange over the pair set). Shuffle cost is |docs|·b rows of
   (bucket → doc_id) — sub-quadratic by design;
5. verify candidates with exact token-set Jaccard computed on sorted
   INT token-id arrays: |A∩B| via array_intersect, |A∪B| derived as
   sz1 + sz2 − |A∩B| (never build the union). Int arrays make the
   per-pair intersect ~an order of magnitude cheaper than the naive
   string-array form, which matters because verification is the CPU
   bottleneck on a duplicative corpus (candidates ≫ docs). The set
   tables broadcast below a row-count gate, so the candidate table —
   the big side — is never exchanged for verify.

The (doc_id, ids) array form is checkpointed and reused by the
signature and both verify branches — without it Spark recomputes the
tokenize+hash subtree once per consumer (no common-subexpression
elimination across a DAG).

With r rows per band the candidate curve is t ≈ (1/b)^(1/r); the
defaults (k=12, b=3, r=4) target t ≈ 0.76.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from big_data_exercise_spark.dedup.cluster import (
    exact_dup_collapse,
    member_pairs,
    star_edges,
)
from big_data_exercise_spark.functions.numeric import round_det_nn
from big_data_exercise_spark.functions.text import tokens

P = 8191
# Max distinct-token-set rows the verify stage will force-broadcast
# (one sorted int array per rep, ~200 B at the typical token budget →
# a few hundred MB resident at the cap, same sizing rationale as the
# closure's cluster._BROADCAST_LABEL_ROWS). Past it, the verify joins
# run as the sort-merge shuffle plan — correct at any scale.
_BROADCAST_SET_ROWS = 1_000_000
# Fixed universal-hash parameters (k=12). Public textbook construction:
# h_j(x) = (A[j]*x + B[j]) mod P with odd A.
A = (3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41)
B = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048)


def doc_token_sets(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks")
    )


def doc_token_ids(documents: DataFrame, use_vocab_ranks: bool = False) -> DataFrame:
    """(doc_id, tok_id) long form. xxhash mode hashes inline (no extra
    pass — the default, and the only mode that scales); vocab_rank mode
    joins a broadcast vocabulary for oracle parity."""
    exploded = doc_token_sets(documents).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    if not use_vocab_ranks:
        # 100 TB mode: non-negative 63-bit hash, no vocab materialization.
        # & MAX_LONG, not abs(): abs(Long.MIN_VALUE) throws under ANSI
        # mode; the mask is overflow-free with the same 2-preimage
        # collision profile.
        return exploded.select(
            "doc_id",
            F.xxhash64("tok").bitwiseAND(F.lit((1 << 63) - 1)).alias("tok_id"),
        )
    from big_data_exercise_spark.operators.windows import global_row_number

    # Exact global vocab rank via the distributed range-partitioned
    # row_number — no single-partition window even in replay mode.
    vocab = global_row_number(exploded.select("tok").distinct(), ["tok"], "__rn")
    vocab = vocab.select("tok", (F.col("__rn") - 1).alias("tok_id"))
    return exploded.join(F.broadcast(vocab), "tok").select("doc_id", "tok_id")


def _signatures_from_ids(tt: DataFrame, num_hashes: int = 12) -> DataFrame:
    # Reduce tok_id mod P BEFORE the multiply: (a·(x mod P) + b) mod P
    # ≡ (a·x + b) mod P for non-negative x, so vocab-mode values (and
    # the DuckDB oracle, which computes the small-rank form directly)
    # are unchanged — but the product now stays < 41·8191 instead of
    # overflowing int64 on 63-bit xxhash ids. Without this the
    # production mode crashes under ANSI mode (Spark 4's default for
    # embedding applications); with it the pipeline is ANSI-safe and
    # the hash family is the true universal-hash value rather than the
    # wrapped-multiply artifact.
    x = F.col("tok_id") % F.lit(P)
    mins = [
        F.min((F.lit(A[j]) * x + F.lit(B[j])) % F.lit(P)).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return tt.groupBy("doc_id").agg(*mins)


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 12,
    bands: int = 3,
    broadcast_build: bool = False,
) -> DataFrame:
    """Distinct candidate (id1 < id2) pairs sharing ≥1 LSH band bucket.

    **First-matching-band emission** (round 11, guide §2.4 — remove
    shuffles outright): a pair sharing several band buckets used to be
    emitted once per band and deduplicated with a ``.distinct()`` — a
    full exchange of the candidate-pair set, the #1 intermediate of
    LSH banding (3.4 M rows at sf0.1; candidates ≫ docs at 100 TB on
    a duplicative corpus). Instead each stacked row now carries ALL
    band signatures, and the bucket join emits a pair only from the
    FIRST band the two docs agree on (``∀ b' < band: sig_b' differs``
    as a join filter). Every co-bucketed pair is emitted exactly once
    by construction — same SET as the old distinct, zero exchanges
    after the bucket join. The stacked side widens by the ``bands``
    signature strings (bounded: band count × ~r short ints), which is
    what the removed exchange's |pairs| rows buy.

    ``broadcast_build=True`` (callers gate it on corpus size) builds
    the bucket hash table as a broadcast and round-robin-repartitions
    the probe side to the session's shuffle-partition count first.
    Rationale (round-11 measurement): with every pair-set exchange
    gone, the bucket join's INPUT is |docs|·b tiny rows — AQE's
    coalescing sizes stages by input bytes and is blind to the join's
    quadratic fan-out, so it collapsed the entire banding+verify
    chain to ONE task (6.3 s serial verify at sf0.1). The explicit
    probe-side repartition pins the fan-out stage at the configured
    parallelism (scale-parameterised conf, not a core-count literal),
    and round-robin spreads hot buckets' probe rows evenly — the
    per-task emission is balanced even when one bucket dominates.
    Past the gate the plain key join runs: its exchanges carry
    corpus-scale bytes, which is exactly the regime AQE's coalescing
    and skew-split size correctly."""
    rows = num_hashes // bands
    sig_cols = [
        F.concat_ws(
            "_", *[f"h{j}" for j in range(b * rows, (b + 1) * rows)]
        ).alias(f"s{b}")
        for b in range(bands)
    ]
    wide = signatures.select("doc_id", *sig_cols)
    stacked = wide.selectExpr(
        "doc_id",
        *[f"s{b}" for b in range(bands)],
        f"stack({bands}, {', '.join(f'{b}, s{b}' for b in range(bands))})"
        " AS (band, sig)",
    )
    left = stacked.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"s{b}").alias(f"l{b}") for b in range(bands - 1)],
        "band",
        "sig",
    )
    right = stacked.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"s{b}").alias(f"r{b}") for b in range(bands - 1)],
        "band",
        "sig",
    )
    first_band_only = F.lit(True)
    for b in range(bands - 1):
        first_band_only = first_band_only & (
            (F.col("band") <= b) | (F.col(f"l{b}") != F.col(f"r{b}"))
        )
    if broadcast_build:
        spark = signatures.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        left = left.repartition(n_parts)
        right = F.broadcast(right)
    return (
        left.join(right, ["band", "sig"])
        .filter((F.col("id1") < F.col("id2")) & first_band_only)
        .select("id1", "id2")
    )


def _verified_rep_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 3,
    use_vocab_ranks: bool = False,
):
    """Shared core of :func:`near_duplicates` and
    :func:`near_duplicate_edges`: exact-dup collapse → signatures →
    LSH banding → exact-Jaccard verify, all at the granularity of
    DISTINCT token sets. Returns ``(collapsed, verified)``:
    ``collapsed`` is one (doc_id, toks, fp, rep_id) row per doc (the
    :func:`cluster.exact_dup_collapse` of the token-set fingerprint)
    and ``verified`` is the rep-level (id1, id2, jaccard) pair list.

    * **Exact-duplicate collapse first.** Docs with identical token
      sets share signatures, LSH buckets, and every Jaccard value, so
      the signature → banding → verify pipeline runs once per DISTINCT
      set, on the rows with ``doc_id == rep_id``. Web-scale corpora
      are 20-50 % exact dups; the bucket-join cost falls quadratically
      with cluster size. The callers expand back through ``rep_id``:
      same-set pairs at jaccard 1.0 (they share all bands by
      construction), cross-set rep pairs fan out to member pairs with
      the rep-level jaccard.
    * **Verify on sorted int token-id arrays** with |A∪B| derived as
      sz1 + sz2 − |A∩B| (never build the union), behind a cheap
      size-ratio prefilter (J ≥ t requires min(sz)/max(sz) ≥ t), so
      the expensive intersect runs only on plausibly-similar pairs.
    * The set tables are one compact row per distinct set → Catalyst
      broadcasts them; the candidate table never shuffles for verify.
    * The set gate keeps a ``rep_sets.count()``: that job is what
      materializes the lazy collapse checkpoint, which stays lazy
      because SimHash and winnowing share it and an eager one re-reads
      at one AQE-coalesced partition (see the ``cand`` note below).
    """
    from big_data_exercise_spark.tables import ensure_parallelism

    # Tokenization is CPU-bound; spread it over the cluster even when
    # the input is a single small split (no-op on real-scale inputs).
    documents = ensure_parallelism(documents)

    # --- collapse to distinct token sets --------------------------------
    keyed = doc_token_sets(documents).withColumn(
        "fp", F.md5(F.concat_ws("\x1f", F.sort_array("toks")))
    )
    collapsed = exact_dup_collapse(keyed, "fp")
    rep_sets = collapsed.filter(F.col("doc_id") == F.col("rep_id"))

    # --- per-row token-id arrays on representatives ---------------------
    # Round 11 (guide §2.4 — remove shuffles outright): signatures and
    # verify sets are both per-doc reductions of the token-id SET, so
    # they are computed as array expressions over one (doc_id, ids)
    # row per rep — the old (doc_id, tok_id) long form cost an explode
    # plus TWO corpus-scale groupBy exchanges (one ObjectHashAggregate
    # for the signature mins, one collect_set per verify side — the
    # plan duplicated the aggregation subtree under both join
    # branches). xxhash mode now reaches banding with ZERO shuffles;
    # vocab mode keeps its single explode→join pass (the global rank
    # needs the vocabulary) but collapses back through ONE collect_set
    # instead of three aggregations.
    if not use_vocab_ranks:
        rep_ids = rep_sets.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    "toks",
                    lambda t: F.xxhash64(t).bitwiseAND(F.lit((1 << 63) - 1)),
                )
            ).alias("ids"),
        )
    else:
        # Vocabulary over rep sets == vocabulary over all docs (every
        # set has a representative), so ranks match the per-doc oracle.
        # Exact global rank WITHOUT a single-partition window: the
        # distributed range-partitioned row_number (same two-pass plan
        # rfm_segments uses), so even this replay mode carries no
        # `WindowExec: No Partition Defined` plan node.
        from big_data_exercise_spark.operators.windows import global_row_number

        exploded = rep_sets.select("doc_id", F.explode("toks").alias("tok"))
        vocab = global_row_number(
            exploded.select("tok").distinct(), ["tok"], "__rn"
        ).select("tok", (F.col("__rn") - 1).alias("tok_id"))
        rep_ids = (
            exploded.join(F.broadcast(vocab), "tok")
            .groupBy("doc_id")
            .agg(F.collect_set("tok_id").alias("ids"))
        )
    # Docs with an EMPTY token set never reached the long form (explode
    # of [] emits no rows), so they had no signature row and could not
    # candidate-pair; keep that contract explicit in the array form.
    # One (doc_id, ids) row per rep, checkpointed LAZY (same rationale
    # as the cand checkpoint below) and read by the signature AND both
    # verify sides — replacing the old tt checkpoint.
    rep_ids = rep_ids.filter(F.size("ids") > 0).localCheckpoint(eager=False)
    sigs = rep_ids.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    "ids",
                    lambda c: (F.lit(A[j]) * (c % F.lit(P)) + F.lit(B[j]))
                    % F.lit(P),
                )
            ).alias(f"h{j}")
            for j in range(num_hashes)
        ],
    )
    # The materialization boundary is load-bearing: it pins the
    # candidate set (unique by first-band construction) so the verify
    # stage probes 1 row per pair. Without it the fused plan
    # re-evaluates the band-join subtree inside the verify joins
    # (measured 4-8x slower at sf0.1). Storage is one (long, long) row
    # per candidate. Lazy RDD checkpoint, not persist: blocks free on
    # GC instead of living in the CacheManager for the session.
    # Keep this checkpoint LAZY: materialized inside the consuming job
    # (round-9 measurement: eager materialization re-read at ONE
    # partition under the 64 MB advisory coalescing and serialized the
    # verify — 5.8 s vs 8.5-9.7 s end-to-end at sf0.1).
    # Gate on the rep count (the job that materializes the lazy
    # collapse checkpoint; see the docstring). Under the gate the
    # bucket join broadcasts its build side and the verify set tables
    # broadcast too, so the candidate pairs never hit an exchange;
    # past it every join runs the sort-merge shuffle plan — correct at
    # any scale.
    _small = rep_sets.count() <= _BROADCAST_SET_ROWS
    cand = lsh_candidate_pairs(
        sigs, num_hashes, bands, broadcast_build=_small
    ).localCheckpoint(eager=False)

    # --- verify rep pairs ----------------------------------------------
    # The set tables are per-row projections of the rep_ids checkpoint
    # (sort_array for the merge-style intersect; no aggregation). They
    # are one compact row per DISTINCT token set, so up to the gate
    # below they ship as broadcasts and the candidate table — the big
    # side — is never exchanged or sorted for verify. (A checkpoint
    # keeps only its pre-checkpoint size estimate — 1.92 GB for this
    # set table on the 1,250-doc benchmark corpus — so Catalyst alone
    # plans these joins as SortMergeJoin: two full Exchange+Sort passes
    # over the candidate pairs, measured slower at sf0.1. The explicit
    # gated hint is the same pattern as the closure's label broadcast.)
    sets_int = rep_ids.select("doc_id", F.sort_array("ids").alias("toks"))
    a = sets_int.select(
        F.col("doc_id").alias("id1"),
        F.col("toks").alias("toks1"),
        F.size("toks").alias("sz1"),
    )
    b = sets_int.select(
        F.col("doc_id").alias("id2"),
        F.col("toks").alias("toks2"),
        F.size("toks").alias("sz2"),
    )
    # Same gate as the bucket join: broadcasting a corpus of 10⁹ rep
    # token sets would OOM executors at the 100 TB regime. ~200 B/row
    # at the typical token budget → the default cap is a few hundred
    # MB resident, matching the closure's sizing.
    if _small:
        a = F.broadcast(a)
        b = F.broadcast(b)
    # J >= t implies min(sz)/max(sz) >= t: kill size-skewed pairs with
    # two int compares before the O(sz) intersect.
    ratio_ok = (F.col("sz1") >= F.col("sz2") * threshold) & (
        F.col("sz2") >= F.col("sz1") * threshold
    )
    # Two structural cost rules here (measured +45% on the sf0.1
    # closure when violated):
    # * the O(sz) intersect is materialized in its own projection —
    #   CollapseProject never inlines a non-cheap alias referenced
    #   more than once, so it computes once per pair plan-side;
    # * the rounding is round_det_nn (jaccard is a non-negative
    #   finite ratio: denominator ≥ max(sz1, sz2) ≥ 1), which
    #   references its argument ONCE — the threshold filter below is
    #   pushed into the verify JOIN CONDITION with aliases
    #   substituted per reference, so a multi-reference rounding
    #   (round_det's non-finite guard) would re-run array_intersect
    #   up to 14× per joined row there.
    jac = F.col("__inter") / (F.col("sz1") + F.col("sz2") - F.col("__inter"))
    verified = (
        cand.join(a, "id1")
        .join(b, "id2")
        .filter(ratio_ok)
        .select(
            "id1",
            "id2",
            "sz1",
            "sz2",
            F.size(F.array_intersect("toks1", "toks2")).alias("__inter"),
        )
        .select("id1", "id2", round_det_nn(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return collapsed, verified


def near_duplicates(
    documents: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 3,
    use_vocab_ranks: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact token-set Jaccard.

    Output: (id1, id2, jaccard) for every verified pair ≥ threshold —
    the full quadratic pair REPORT (clique-expanded through the
    exact-dup collapse's ``rep_id``; see :func:`_verified_rep_pairs`
    for the shared pipeline). When the downstream consumer only needs
    connectivity — the connected-components closure — use
    :func:`near_duplicate_edges` instead, which carries the same
    components on a linear-size edge list.
    """
    collapsed, verified = _verified_rep_pairs(
        documents, threshold, num_hashes, bands, use_vocab_ranks
    )
    # same-set members pair at jaccard 1.0, which a threshold above 1.0
    # excludes
    intra = None if threshold > 1.0 else F.lit(1.0)
    return member_pairs(collapsed, verified, "jaccard", intra)


def near_duplicate_edges(
    documents: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 12,
    bands: int = 3,
    use_vocab_ranks: bool = False,
) -> DataFrame:
    """Connectivity-preserving near-dup edge list: (id1, id2), linear
    in corpus size instead of quadratic in duplicate-cluster size.

    :func:`near_duplicates` clique-expands every exact-dup cluster
    (k members → k·(k−1)/2 intra pairs) and every cross-set rep pair
    (→ |A|·|B| member pairs) because the pair REPORT is its contract.
    The dedup CLOSURE only needs the connected components, which are
    invariant under replacing each clique with a star: member→rep
    edges (k−1 per cluster) plus the rep-level verified pairs reach
    exactly the same components — on a dup-heavy corpus (duplicate
    clusters of thousands at 100 TB) that is the difference between
    Σk² and Σk rows feeding the closure. Transitive-closure oracles
    over the full pair list agree by construction.
    """
    collapsed, verified = _verified_rep_pairs(
        documents, threshold, num_hashes, bands, use_vocab_ranks
    )
    if threshold > 1.0:
        # Mirror near_duplicates' contract exactly: exact-dup members
        # pair at jaccard 1.0, so a threshold above 1.0 excludes the
        # intra-cluster cliques from the report — the star edges must
        # vanish too, or the closure over edges would merge clusters
        # the closure over the report leaves as singletons.
        return verified.select("id1", "id2")
    return verified.select("id1", "id2").unionByName(star_edges(collapsed))


def lsh_recall_report(
    documents: DataFrame, threshold: float = 0.8, max_doc: int = 30
) -> DataFrame:
    """Banding-quality evaluation on a bounded kernel: exact all-pairs
    Jaccard ground truth (docs with doc_id < ``max_doc``) vs the LSH
    band candidates over the same subset — the measurement that tells
    you whether (num_hashes, bands) is tuned for your threshold before
    you trust it on 100 TB. One row: |truth|, |candidates|,
    |truth ∩ candidates|, recall, candidate precision.

    The all-pairs truth is the EXPENSIVE thing LSH exists to avoid —
    bounding it to a fixed kernel (same discipline as
    ngram.pairwise_jaccard) keeps the report runnable at any corpus
    size while still auditing the banding on real data.
    """
    from big_data_exercise_spark.functions.numeric import round_det

    sub = documents.filter(F.col("doc_id") < max_doc)
    tt = doc_token_ids(sub, use_vocab_ranks=True).localCheckpoint(eager=False)
    sizes = tt.groupBy("doc_id").agg(F.count("*").alias("sz"))
    t1 = tt.select(F.col("doc_id").alias("id1"), "tok_id")
    t2 = tt.select(F.col("doc_id").alias("id2"), "tok_id")
    inter = (
        t1.join(t2, "tok_id")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    truth = (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .filter(
            F.col("n") * 1.0 / (F.col("sz1") + F.col("sz2") - F.col("n"))
            >= threshold
        )
        .select("id1", "id2")
        .localCheckpoint(eager=False)
    )
    cand = lsh_candidate_pairs(_signatures_from_ids(tt)).localCheckpoint(
        eager=False
    )
    t = truth.agg(F.count("*").alias("n_true"))
    c = cand.agg(F.count("*").alias("n_candidates"))
    fnd = truth.join(cand, ["id1", "id2"]).agg(F.count("*").alias("n_found"))
    return (
        t.crossJoin(c)
        .crossJoin(fnd)
        .select(
            "n_true",
            "n_candidates",
            "n_found",
            round_det(F.col("n_found") / F.col("n_true"), 4).alias("recall"),
            round_det(F.col("n_found") / F.col("n_candidates"), 4).alias(
                "candidate_precision"
            ),
        )
    )
